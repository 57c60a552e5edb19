"""Relational query surface (SURVEY.md §7 M4).

The reference has zero relational operators (SURVEY.md §2: "no join/agg/
window/sort/set-op" — its handler flows delegate to the host platform).
This module supplies the full surface a user of the reference would get
from the platform, expressed as idiomatic Catalyst plans:

- joins: broadcast dim joins, sort-merge fact joins, semi/anti;
- aggregations: hash agg, rollup/cube/grouping sets, distinct, pivot;
- windows: top-k per group, running frames, lag, sessionization;
- sort/limit/top-k, set operations, scalar function library.

Scale notes (100 TB posture) are per-function docstrings.  Every
function takes ``(spark, sf_dir)`` and returns a DataFrame whose column
names match the DuckDB oracle in ``ORACLES`` exactly.  Double-typed
aggregates are rounded on BOTH sides (sum order differs between engines
at the ulp level; rounding makes the hash comparison stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from decisions_kinesis_spark.functions.parallel import materialize
from decisions_kinesis_spark.session import once
from decisions_kinesis_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# TPC-H-flavored analytics over the driver's star schema
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single scan → hash agg, no join, no shuffle skew.

    At scale: partial aggregation map-side (4 groups) makes the shuffle
    negligible; the shipdate filter pushes to the parquet scan.
    """
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer ⋈ orders ⋈ lineitem, group, top-10 by revenue.

    customer is small relative to the facts → broadcast; orders⋈lineitem
    shuffles on the join key (co-partitioned at scale via bucketing on
    o_orderkey/l_orderkey).  Ranking uses the ROUNDED revenue so the
    top-10 cut is stable across engines.
    """
    cust = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join: two broadcast dims + three fact-side joins.

    region/nation/supplier/customer are dimension-sized → broadcast;
    only orders⋈lineitem shuffles.  The c_nationkey = s_nationkey
    constraint is the classic TPC-H local-supplier condition.
    """
    region = load_table(spark, "region", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + filter + scalar agg — pure pushdown test (no shuffle at all)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue per customer, top 20 (rounded-revenue ranking)."""
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Join forms
# --------------------------------------------------------------------------


def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation ⋈ region: the canonical broadcast join (no shuffle)."""
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")


def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): customers having ≥1 high-value order."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 200000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers with no URGENT-priority
    order.  The priority filter keeps the anti-join demo non-vacuous:
    every customer in this corpus has ordered at least once, so the
    unfiltered form returns 0 rows at every SF and its correctness
    row would check nothing."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Aggregation forms
# --------------------------------------------------------------------------


def agg_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (returnflag, linestatus) — hierarchical subtotals."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (orderstatus, orderpriority) — all subtotal combinations."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count("*").alias("n_orders"),
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same text runs in DuckDB)."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(avg(o_totalprice), 4) AS avg_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per group (expand + two-phase agg in Spark)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


def agg_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type → columns; explicit value list keeps one pass."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer — row_number + filter (the
    scalable top-k: partial top-k per partition, no global sort)."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def window_running_sum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running sum over event time (ROWS UNBOUNDED PRECEDING)."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


def window_lag_delta_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG + delta per user — change-point primitive."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - prev, 6).alias("delta_value"),
    )


def window_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (5-min gap): lag + flag-sum.

    Integer µs arithmetic keeps it engine-exact.  At scale this is one
    shuffle on user_id then a linear pass — the standard approach.
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 300_000_000), 1).otherwise(0)
    return (
        ev.select("user_id", new_sess.alias("new_sess"))
        .groupBy("user_id")
        .agg(F.sum("new_sess").cast("bigint").alias("n_sessions"))
    )


# --------------------------------------------------------------------------
# Sort / limit / set ops / scalar functions
# --------------------------------------------------------------------------


def sort_limit_topk_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-25 by price — Spark runs TakeOrderedAndProject (per-
    partition top-k + driver merge), not a full sort."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(25)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


def set_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two customer segments."""
    cust = load_table(spark, "customer", sf_dir)
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    return a.union(b).distinct()


def set_intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers appearing in both order-priority classes."""
    orders = load_table(spark, "orders", sf_dir)
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return a.intersect(b)


def set_except_nonbuyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: all custkeys minus urgent-order custkeys."""
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return cust.exceptAll(urgent.distinct()).distinct()


def set_except_all_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset semantics — each occurrence subtracts one):
    order-status multiset of non-urgent orders minus the status multiset
    of small orders, aggregated to per-status surviving counts."""
    orders = load_table(spark, "orders", sf_dir)
    left = orders.filter(F.col("o_orderpriority") != "1-URGENT").select(
        "o_orderstatus"
    )
    right = orders.filter(F.col("o_totalprice") < 10000).select("o_orderstatus")
    return (
        left.exceptAll(right)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_surviving"))
    )


def split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val split — the reproducible
    alternative to sample(): split = md5(doc_id) mod 100, <90 → train.

    Unlike RNG sampling this is stable across engines, runs, partition
    layouts, and cluster sizes (the property a training pipeline needs
    so examples never leak between splits) and is a pure scan-side
    projection.  Output: per (lang, split) counts + a checksum of the
    member ids so the oracle verifies the actual membership.
    """
    docs = load_table(spark, "documents", sf_dir)
    h = "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"
    return (
        docs.withColumn(
            "split",
            F.when(F.expr(f"{h} % 100") < 90, F.lit("train")).otherwise(
                F.lit("val")
            ),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


def split_stratified_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic split: per-language train rates (90%
    for 'en', 80% otherwise) over the same md5(doc_id) hash — the
    per-stratum sampling a curriculum/mixture pipeline needs, with the
    same reproducibility guarantees as split_train_val."""
    docs = load_table(spark, "documents", sf_dir)
    h = "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"
    rate = F.when(F.col("lang") == "en", F.lit(90)).otherwise(F.lit(80))
    return (
        docs.withColumn(
            "split",
            F.when(F.expr(f"{h} % 100") < rate, F.lit("train")).otherwise(
                F.lit("val")
            ),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


def scalar_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar library on one projection (all codegen'd)."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.select(
        "o_orderkey",
        F.upper(F.col("o_orderstatus")).alias("status_u"),
        F.lower(F.col("o_orderpriority")).alias("prio_l"),
        F.substring(F.col("o_orderpriority"), 1, 1).alias("prio_code"),
        F.length(F.col("o_orderpriority")).cast("bigint").alias("prio_len"),
        F.concat_ws("|", F.col("o_orderstatus"), F.col("o_orderpriority")).alias(
            "status_prio"
        ),
        F.year(F.col("o_orderdate")).cast("bigint").alias("o_year"),
        F.month(F.col("o_orderdate")).cast("bigint").alias("o_month"),
        F.dayofmonth(F.col("o_orderdate")).cast("bigint").alias("o_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.round(F.col("o_totalprice"), 0).alias("price_r0"),
        F.floor(F.col("o_totalprice")).cast("bigint").alias("price_floor"),
        F.ceil(F.col("o_totalprice")).cast("bigint").alias("price_ceil"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("price_dev"),
        F.round(F.log(F.col("o_totalprice")), 6).alias("price_ln"),
        F.round(F.sqrt(F.col("o_totalprice")), 6).alias("price_sqrt"),
    )


def join_outer_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with null-preserving aggregation: every customer,
    including the order-less (count(o_orderkey) skips nulls)."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


def join_full_outer_priority_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two per-customer aggregates — rows survive
    from either side with nulls on the other."""
    orders = load_table(spark, "orders", sf_dir)
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("cust_u"))
        .agg(F.count("*").alias("n_urgent"))
    )
    high = (
        orders.filter(F.col("o_orderpriority") == "2-HIGH")
        .groupBy(F.col("o_custkey").alias("cust_h"))
        .agg(F.count("*").alias("n_high"))
    )
    return urgent.join(
        high, urgent.cust_u == high.cust_h, "full_outer"
    ).select(
        F.coalesce(F.col("cust_u"), F.col("cust_h")).alias("custkey"),
        F.coalesce(F.col("n_urgent"), F.lit(0)).alias("n_urgent"),
        F.coalesce(F.col("n_high"), F.lit(0)).alias("n_high"),
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: customer-nation × supplier-nation trade volume by
    year (multi-join + date extraction + pair grouping)."""
    n1 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = load_table(spark, "supplier", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            # exact DECIMAL sum (per-item revenue is an exact 4-dp value):
            # float sums differ between engines in addition order, and
            # rounding floats lands on .xx5 boundaries — decimal is exact
            # and engine-identical, no rounding needed.
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("volume")
        )
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (promo share of
    revenue) over a fact⋈dim join."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    part = load_table(spark, "part", sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.count("*").alias("n_items"),
        )
    )


def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family: rank / dense_rank / percent_rank /
    cume_dist / ntile over orders per customer."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


def window_rolling_1h_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user rolling 1-hour sum over event
    time (range frame on epoch-µs ordering — integer-exact)."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("rolling_1h_value"),
    )


def window_rows_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS window frame (count-based, vs the RANGE frame above): per
    user, moving sum/min/max over the 5 preceding events in a
    deterministic (ts, event_id) order."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), F.col("event_id"))
        .rowsBetween(-5, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("mov_sum"),
        F.round(F.min("value").over(w), 4).alias("mov_min"),
        F.round(F.max("value").over(w), 4).alias("mov_max"),
        F.count("*").over(w).alias("frame_n"),
    )


def agg_array_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collect: per returnflag, the sorted distinct linestatus
    values (string-joined for engine-portable comparison)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("l_linestatus"))).alias(
            "statuses"
        ),
        F.count("*").alias("n_rows"),
    )


def sql_cte_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL API: CTE + correlated scalar subquery (customers whose top
    order is above their segment's average top order)."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("customer")
    return spark.sql(_SQL_CTE_CORRELATED)


_SQL_CTE_CORRELATED = """
    WITH tops AS (
        SELECT c_custkey, c_mktsegment,
               (SELECT max(o_totalprice) FROM orders
                WHERE o_custkey = c_custkey) AS top_order
        FROM customer
    ),
    seg AS (
        SELECT c_mktsegment, avg(top_order) AS seg_avg
        FROM tops WHERE top_order IS NOT NULL GROUP BY c_mktsegment
    )
    SELECT t.c_custkey, t.c_mktsegment,
           round(t.top_order, 2) AS top_order,
           round(s.seg_avg, 4) AS seg_avg
    FROM tops t JOIN seg s ON t.c_mktsegment = s.c_mktsegment
    WHERE t.top_order > s.seg_avg
"""


def sql_recursive_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL API: ``WITH RECURSIVE`` (new in Spark 4.x) — transitive
    ancestor closure over the implicit decimal-digit part hierarchy
    (parent(p) = p div 10, a forest with roots 1..9), then a subtree
    rollup: for every ancestor below 100, the count and total retail
    value (cents-exact) of its PROPER descendants and the deepest
    relative depth.  Exercises genuine iterative fixpoint in pure SQL
    — the closure is not expressible with joins of any fixed arity,
    since depth grows with the key range.

    Scale: recursion depth is O(log10 max_partkey) — 7 narrow
    iterations at a 10M-part catalog, each a projection + filter over
    the frontier (no join in the recursive step); every part emits
    ≤ depth ancestor rows, so the closure is a bounded ~depth× row
    expansion feeding one map-side-combining aggregation.  Spark
    executes the CTE as an iterative UnionLoop over narrow frames;
    the 100 TB posture is identical to any bounded explode.
    """
    load_table(spark, "part", sf_dir).createOrReplaceTempView("part")
    return spark.sql(_SQL_RECURSIVE_SUBTREE)


def sql_pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL API: Spark 4 PIPE syntax (``|>``) — the q6-flavored
    discount-revenue aggregate written as a linear pipeline
    (FROM |> WHERE |> EXTEND |> AGGREGATE |> ORDER BY) instead of
    nested SELECT.  Same Catalyst plan as the classic form (the parser
    desugars before optimization), so pushdown/pruning/codegen are
    identical — this pins the SURFACE, the semantics are q6's.

    Scale: one predicate-pushed scan + one map-side-combining 2-key
    aggregate.  Money arithmetic is the repo's ×10⁴-scaled-BIGINT
    discipline (quantize each 2dp factor to an integer scan-side, sum
    in DECIMAL(38,0)).  The SUM leaves the engine as a DIGIT STRING:
    the r7 (18,2)-cast and r8 (38,0)-exact-match spellings both
    hash-failed the driver while every local re-run passed — decimal
    output columns NEVER survive the driver comparator (its pandas
    transport folds DuckDB DECIMAL to float64 while Spark ships
    Decimal objects; verified mechanism, see NOTES sensitivity table),
    so unbounded exact integers travel as strings and the interior
    DECIMAL(38,0) accumulator keeps the 100-TB headroom int64 lacks.
    """
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= DATE'1996-01-01'
           AND l_shipdate < DATE'1997-01-01'
           AND l_discount BETWEEN 0.02 AND 0.09
           AND l_quantity < 25
        |> EXTEND cast(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                  * cast(floor(l_discount * 100 + 0.5) AS BIGINT)
                  AS disc_rev_x10000
        |> AGGREGATE count(*) AS n_lines,
                     cast(sum(cast(disc_rev_x10000 AS DECIMAL(38,0)))
                          AS STRING) AS revenue_x10000
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


def sql_udf_money_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL API: Spark 4 SQL-DEFINED FUNCTIONS (``CREATE TEMPORARY
    FUNCTION … RETURNS … RETURN expr``) — the declarative UDF tier
    BELOW Python: the body is a SQL expression Catalyst INLINES into
    the plan, so it optimizes, pushes down, and codegens like any
    built-in (no serialization boundary, no Python worker — the
    preferred way to package the money-quantization discipline for SQL
    users).  Two functions compose: ``dks_qmoney`` (the repo's ×100
    half-up cents quantizer) feeding ``dks_cents_bucket`` (a CASE
    tiering); the query buckets orders and reports count + truncating
    mean cents.  The DuckDB oracle inlines the same bodies — which is
    exactly the semantics the inlining tier guarantees.

    Scale: after inlining this is ONE scan + a 3-group
    map-side-combining aggregate; the decimal interior keeps the
    corpus-scale cents sum exact before the bounded mean divides out.
    """
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    # once per session: the CREATE OR REPLACE re-issue works but logs a
    # SimpleFunctionRegistry "replaced a previously registered function"
    # WARN per call
    def create_functions() -> None:
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION dks_qmoney(x DOUBLE)"
            " RETURNS BIGINT RETURN cast(floor(x * 100 + 0.5) as bigint)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION dks_cents_bucket(c BIGINT)"
            " RETURNS STRING RETURN case when c < 10000000 then 'small'"
            " when c < 20000000 then 'mid' else 'large' end"
        )

    once(spark, "dks_sql_fns", create_functions)
    return spark.sql(
        """
        SELECT dks_cents_bucket(dks_qmoney(o_totalprice)) AS bucket,
               count(*) AS n_orders,
               cast(sum(cast(dks_qmoney(o_totalprice) as decimal(38,0)))
                    div count(*) as bigint) AS cents_avg
        FROM orders
        GROUP BY dks_cents_bucket(dks_qmoney(o_totalprice))
        """
    )


def sql_parameterized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL API: PARAMETERIZED queries with named-argument binding plus
    the ``IDENTIFIER()`` clause (Spark 4) — the injection-safe way a
    service templates both VALUES (``:status``, ``:min_cents``) and
    NAMES (``IDENTIFIER(:tbl)``) into SQL: values bind as typed
    literals (never string-spliced), identifiers resolve through the
    parser's identifier rule (never into value position).  The query
    itself is the priority-tier revenue report under a status filter
    and a cents floor, all money in the ×100 discipline.

    Scale: binding happens at parse time — the plan is identical to
    the constant-folded spelling (pushdown/pruning unaffected), which
    the oracle (constants inlined) verifies value-for-value.
    """
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               cast(sum(cast(cast(floor(o_totalprice * 100 + 0.5)
                                  as bigint) as decimal(38,0)))
                    div count(*) as bigint) AS cents_avg
        FROM IDENTIFIER(:tbl)
        WHERE o_orderstatus = :status
          AND cast(floor(o_totalprice * 100 + 0.5) as bigint)
              >= :min_cents
        GROUP BY o_orderpriority
        """,
        args={"tbl": "orders", "status": "F", "min_cents": 5_000_000},
    )


def sql_lateral_top_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL API: correlated LATERAL subquery with ORDER BY + LIMIT —
    the top-1-per-group form written the way an analyst writes it
    ("for each customer, their single priciest order") instead of the
    window spelling.  Catalyst DECORRELATES the lateral into a
    ranked join (DecorrelateInnerQuery), so the executed plan is the
    same partial-top-k topology as the window form — this query pins
    that the surface parses, decorrelates, and agrees with the
    oracle's identical LATERAL.  Deterministic tie-break: highest
    cents, then smallest orderkey.

    Scale: post-decorrelation the per-customer top-1 is a
    WindowGroupLimit-style partial rank — no per-row re-execution of
    the subquery (the rewrite is the whole point of the surface).
    """
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    load_table(spark, "customer", sf_dir).createOrReplaceTempView(
        "customer"
    )
    return spark.sql(
        """
        SELECT c.c_custkey, l.top_orderkey, l.top_cents
        FROM (SELECT c_custkey FROM customer
              WHERE c_mktsegment = 'BUILDING') c,
        LATERAL (
            SELECT o_orderkey AS top_orderkey,
                   cast(floor(o_totalprice * 100 + 0.5) as bigint)
                       AS top_cents
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY top_cents DESC, o_orderkey ASC
            LIMIT 1
        ) l
        """
    )


#: cents-exact retail price (money-quantization discipline)
_P_CENTS_SPARK = "cast(floor(p_retailprice * 100 + 0.5) as bigint)"
_P_CENTS_DUCK = "floor(p_retailprice * 100 + 0.5)::BIGINT"

_SQL_RECURSIVE_SUBTREE = f"""
    WITH RECURSIVE anc(partkey, cents, ancestor, depth) AS (
        SELECT p_partkey, {_P_CENTS_SPARK}, p_partkey div 10, 1
        FROM part WHERE p_partkey >= 10
        UNION ALL
        SELECT partkey, cents, ancestor div 10, depth + 1
        FROM anc WHERE ancestor >= 10
    )
    SELECT ancestor, count(*) AS n_descendants,
           sum(cents) AS subtree_cents,
           max(depth) AS max_depth
    FROM anc WHERE ancestor < 100
    GROUP BY ancestor
"""


def sql_null_semantics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic audit: ``IN`` / ``NOT IN`` / ``EXISTS`` /
    ``NOT EXISTS`` against a key set that CONTAINS a NULL (the
    BUILDING-segment custkeys plus one explicit NULL row) — the
    classic ANSI trap where ``NOT IN (… NULL …)`` evaluates UNKNOWN
    for every non-matching probe row and returns ZERO rows, while the
    equivalent-looking ``NOT EXISTS`` returns the true anti-join count
    (orders from the other segments).  Both engines implement the
    standard, so all five counts — including the trap's 0 and the
    IN/EXISTS agreement — are oracle-exact; the query is the
    regression guard that this engine keeps ANSI semantics rather
    than the intuitive-but-wrong variant.

    Scale: all four predicates compile to broadcast/shuffled semi- or
    anti-joins on o_custkey (Spark rewrites IN/EXISTS subqueries to
    joins; the NOT IN null-check becomes a null-aware anti-join) —
    one fact-side pass per predicate, no correlated per-row execution.
    """
    load_table(spark, "customer", sf_dir).createOrReplaceTempView(
        "customer"
    )
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(_SQL_NULL_SEMANTICS)


_SQL_NULL_SEMANTICS = """
    WITH keys AS (
        SELECT c_custkey AS k FROM customer
        WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT CAST(NULL AS BIGINT)
    )
    SELECT
        (SELECT count(*) FROM orders) AS n_orders,
        (SELECT count(*) FROM orders
         WHERE o_custkey IN (SELECT k FROM keys)) AS n_in,
        (SELECT count(*) FROM orders
         WHERE o_custkey NOT IN (SELECT k FROM keys)) AS n_not_in,
        (SELECT count(*) FROM orders
         WHERE EXISTS (SELECT 1 FROM keys WHERE k = o_custkey))
            AS n_exists,
        (SELECT count(*) FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = o_custkey))
            AS n_not_exists
"""


def scalar_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar library #2: arithmetic, boundaries, parts."""
    orders = load_table(spark, "orders", sf_dir)
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_add(d, 30).alias("plus_30d"),
        F.date_sub(d, 7).alias("minus_7d"),
        F.datediff(F.lit("2000-01-01").cast("date"), d)
        .cast("bigint")
        .alias("days_to_y2k"),
        F.last_day(d).alias("month_end"),
        F.dayofweek(d).cast("bigint").alias("dow"),
        F.quarter(d).cast("bigint").alias("qtr"),
        F.round(F.months_between(F.lit("2000-01-01").cast("date"), d), 6).alias(
            "months_to_y2k"
        ),
        F.date_format(d, "yyyy-MM").alias("ym"),
    )


def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (stack): wide measures → long (measure, value) rows."""
    li = load_table(spark, "lineitem", sf_dir)
    long = li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'price', l_extendedprice,"
            " 'discount', l_discount) AS (measure, value)"
        ),
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
    )


def json_typed_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON path: from_json with an explicit schema (vs the
    string-typed get_json_object used by the filter DSL) — numeric
    comparison ('9' < '50' here, unlike the lexicographic verb)."""
    ev = load_table(spark, "events", sf_dir)
    parsed = ev.withColumn(
        "p", F.from_json("props", "struct<k:bigint>")
    )
    return (
        parsed.filter(F.col("p.k") > 50)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("p.k").cast("bigint").alias("sum_k"),
        )
    )


def json_variant_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT tier of the JSON family: ``parse_json`` ingests
    the payload ONCE into the binary VARIANT encoding (the open-format
    semi-structured type Spark 4 / Delta / Iceberg v3 share), then
    ``variant_get`` extracts typed paths without re-parsing per path —
    the engine-native upgrade over per-path ``get_json_object`` string
    walks (``json_typed_extraction`` is the from_json/schema cousin;
    the filter DSL keeps reference-exact string semantics).
    ``try_parse_json`` over a deliberately truncated copy (closing
    brace dropped) exercises the malformed→NULL contract — truncating
    the TAIL, not the head, because Spark's parser accepts a valid
    JSON scalar prefix and ignores trailing text after a string
    literal, while an unterminated object is malformed on both
    engines.

    Scale: parse + extraction are scan-side codegen'd expressions (one
    binary parse per row, k pointer walks per path); the only shuffle
    is the |types|-key aggregate, map-side combined.
    """
    from decisions_kinesis_spark.functions.parallel import ensure_parallelism

    # scan-side JSON→VARIANT parse is the per-row cost here; spread the
    # single-split fixture scan (no-op at scale)
    ev = ensure_parallelism(load_table(spark, "events", sf_dir))
    v = ev.select(
        "event_type",
        F.parse_json("props").alias("v"),
        F.try_parse_json(
            F.expr("substring(props, 1, length(props) - 1)")
        ).alias("bad"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.variant_get("v", "$.k", "bigint")).cast("bigint").alias(
            "sum_k"
        ),
        F.max(F.variant_get("v", "$.k", "bigint")).cast("bigint").alias(
            "max_k"
        ),
        F.sum(F.expr("if(bad is null, 1L, 0L)")).alias("n_malformed"),
    )


def scalar_conditional_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling and conditional scalars over the outer-join shape
    that actually produces NULLs: coalesce / nullif / nvl2-style CASE /
    greatest / least on customer⋈orders."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).groupBy("o_custkey").agg(
        F.max("o_totalprice").alias("top_price"),
        F.count("*").alias("n_orders"),
    )
    j = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    return j.select(
        "c_custkey",
        F.coalesce("top_price", F.lit(0.0)).alias("top_or_zero"),
        F.expr("nullif(c_acctbal, 0.0)").alias("bal_nullif_zero"),
        F.when(F.col("n_orders").isNull(), F.lit("none"))
        .when(F.col("n_orders") > 10, F.lit("many"))
        .otherwise(F.lit("some"))
        .alias("order_band"),
        F.greatest(F.coalesce("top_price", F.lit(0.0)), "c_acctbal").alias(
            "best_value"
        ),
        F.least(F.coalesce("n_orders", F.lit(0)), F.lit(5)).cast("bigint").alias(
            "capped_orders"
        ),
        F.col("top_price").isNull().alias("never_ordered"),
    )


def json_nested_array_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONPath array indexing ($.arr[i]) and nested-object paths over a
    synthesized nested document — the deep-payload counterpart of the
    flat filter DSL (both engines index into the same serialized JSON).
    """
    # explode(array(...)) barrier: as a plain projected column the
    # derived ``doc`` would be inlined into all four get_json_object
    # consumers below (4 to_json serializations + inner props parse per
    # row — the payload_filter_contains_ci lesson); the 1-row Generate
    # materializes it once.  ensure_parallelism spreads the scan-side
    # JSON work across cores (single-split small fixture; no-op at
    # scale).
    from decisions_kinesis_spark.functions.parallel import ensure_parallelism

    ev = ensure_parallelism(load_table(spark, "events", sf_dir))
    nested = ev.select(
        "event_id",
        F.explode(
            F.array(
                F.to_json(
                    F.struct(
                        F.struct(
                            F.col("event_type").alias("type"),
                            F.col("user_id").alias("uid"),
                        ).alias("meta"),
                        F.array(
                            F.get_json_object("props", "$.k"),
                            F.col("event_id").cast("string"),
                        ).alias("tags"),
                    )
                )
            )
        ).alias("doc"),
    )
    return nested.select(
        "event_id",
        F.get_json_object("doc", "$.meta.type").alias("m_type"),
        F.get_json_object("doc", "$.meta.uid").alias("m_uid"),
        F.get_json_object("doc", "$.tags[0]").alias("tag0"),
        F.get_json_object("doc", "$.tags[1]").alias("tag1"),
    )


def agg_approx_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates: HLL distinct + quantile sketch.

    No DuckDB oracle — sketch implementations differ across engines by
    design (the driver records a rows-only check).  At 100 TB these
    replace their exact counterparts: approx_count_distinct avoids the
    expand+dedup shuffle, percentile_approx streams one pass.
    """
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_supps"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.percentile_approx("l_extendedprice", 0.99).alias("approx_p99_price"),
    )


def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (hot-key pattern) — results must be
    IDENTICAL to the direct groupBy, which the oracle verifies: the
    salt is an execution detail, not a semantic one."""
    from decisions_kinesis_spark.functions.skew import salted_aggregate

    li = load_table(spark, "lineitem", sf_dir)
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={
            "sum_qty": F.sum("l_quantity"),
            "n_rows": F.count("*"),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    )


def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per group: stddev/variance/median (exact
    interpolated percentile)."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 6).alias("avg_v"),
        F.round(F.stddev_samp("value"), 6).alias("std_v"),
        F.round(F.var_samp("value"), 6).alias("var_v"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_v"),
        F.round(F.min("value"), 6).alias("min_v"),
        F.round(F.max("value"), 6).alias("max_v"),
    )


def profile_table_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the fact table in ONE pass: row count,
    per-column null counts, exact distinct cardinalities, and value
    bounds — the audit every ingest pipeline runs before promoting a
    dataset.  Multiple exact count-distincts share one expand-based
    aggregation; at 100 TB swap them for approx_count_distinct (see
    agg_approx_suite) — same plan shape, sketch merge instead of
    expand."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_orderkey").isNull().cast("bigint")).alias("null_orderkey"),
        F.sum(F.col("l_shipdate").isNull().cast("bigint")).alias("null_shipdate"),
        F.countDistinct("l_orderkey").alias("d_orderkey"),
        F.countDistinct("l_partkey").alias("d_partkey"),
        F.countDistinct("l_returnflag").alias("d_returnflag"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (bucket = value div
    10, clamped to [0, 19]) — the distribution-profiling scan, one
    groupBy on (type, bucket)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.withColumn(
            "bucket",
            F.least(
                F.greatest(F.expr("cast(floor(value / 10) as bigint)"), F.lit(0)),
                F.lit(19),
            ),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


# --------------------------------------------------------------------------
# Registry + DuckDB oracles
# --------------------------------------------------------------------------

def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part within a region
    (join fan-in + per-group argmin + deterministic top-N).

    The fixture has no partsupp table, so lineitem is the part-supplier
    link and unit price = l_extendedprice / l_quantity.  Scale: dims
    broadcast; the argmin is a window over the part key (one shuffle);
    global top-25 via TakeOrderedAndProject.
    """
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    offers = (
        li.join(F.broadcast(eu_supp), li.l_suppkey == F.col("s_suppkey"))
        # engine-stable 4-dp round: Spark HALF_UP vs DuckDB HALF_EVEN
        # differ on .xxxx5 halves; floor(x*1e4+0.5)/1e4 is identical
        .withColumn(
            "unit_price",
            F.expr(
                "floor(l_extendedprice / l_quantity * 1e4 + 0.5) / 1e4"
            ),
        )
        .select("l_partkey", "s_suppkey", "s_name", "n_name", "unit_price")
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("unit_price"), F.asc("s_suppkey")
    )
    return (
        offers.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_suppkey",
            "s_name",
            "n_name",
            "unit_price",
        )
        .orderBy(F.asc("unit_price"), F.asc("p_partkey"), F.asc("s_suppkey"))
        .limit(25)
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join — orders (in a quarter) having
    at least one lineitem shipped after the order date, counted per
    priority.  Scale: left-semi join shuffles on the order key only;
    the probe side never duplicates rows."""
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "leftsemi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's market
    per year (conditional-sum ratio over a 6-way join)."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    n1 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n2 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(
                        F.lit(0).cast("decimal(18,4)")
                    )
                ).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share"),
            F.sum(rev).cast("double").alias("total_volume"),
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × order year for a
    part-name pattern (LIKE filter pushed to the dim, fact joins
    broadcast)."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(F.col("p_name").contains("red"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(rev).cast("double").alias("sum_profit"))
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — orders per customer
    (left join keeps zero-order customers), then customers per order
    count."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the global maximum revenue
    in a quarter (aggregate view + scalar-max subquery, exact decimal
    revenue so the equality is engine-stable)."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load_table(spark, "supplier", sf_dir)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("total_rev"))
    max_rev = per_supp.agg(F.max("total_rev").alias("mx"))
    return (
        per_supp.join(F.broadcast(max_rev), per_supp.total_rev == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev")
        )
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery — revenue from
    lineitems whose quantity is below 20% of their part's average,
    de-correlated into a per-part aggregate joined back (the plan
    Catalyst produces for the subquery form, written explicitly)."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(F.col("p_brand") == "Brand#23")
    li_b = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    per_part = li_b.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li_b.join(F.broadcast(per_part), li_b.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0,
                4,
            ).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (grouped HAVING feeding a semi join), with customer enrichment and
    deterministic top-100."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    ranges — the classic test that OR-of-ANDs predicates still prune
    and pushdown (the join stays a single broadcast hash join with the
    residual OR filter)."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return j.filter(cond).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: anti join against orders + global scalar
    subquery — rich customers (balance above the positive-balance
    average) with no RECENT order (none since 1999-01-01), grouped by
    nation.  The recency cutoff plays the role of Q22's substitution
    parameters, chosen so the result is non-empty at every test SF —
    an everywhere-empty result would make the correctness row vacuous
    (this corpus's every rich customer has ordered at least once)."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= "1999-01-01"
    )
    nation = load_table(spark, "nation", sf_dir)
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    return (
        cust.join(F.broadcast(avg_bal), cust.c_acctbal > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    group with NOT-style dim filters and an IN-list (negated filters
    prune at the dim scan; count(distinct) shuffles once on the group
    key)."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#45")
        & ~F.col("p_type").startswith("MEDIUM")
        & F.col("p_size").isin(1, 14, 23, 45)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested subquery chain — suppliers whose total
    shipped quantity of 'red' parts exceeds a threshold, resolved as a
    grouped HAVING frame feeding a left-semi join."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(F.col("p_name").startswith("red"))
    supp = load_table(spark, "supplier", sf_dir)
    hot = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
        .filter(F.col("qty") > 100)
    )
    return (
        supp.join(hot, supp.s_suppkey == hot.l_suppkey, "leftsemi")
        .select("s_suppkey", "s_name")
    )


def q21_single_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT-EXISTS double correlation on the
    same fact — per supplier, finished orders where it participated and
    NO other supplier did (anti join on the other-supplier condition)."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, "supplier", sf_dir)
    l1 = (
        li.select("l_orderkey", "l_suppkey")
        .distinct()
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    l2 = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    sole = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("x_orderkey"))
        & (F.col("l_suppkey") != F.col("x_suppkey")),
        "left_anti",
    )
    return (
        sole.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value compared against a GLOBAL
    scalar threshold (HAVING value > fraction × sum(value) over ALL
    groups) — the aggregate-vs-scalar-subquery form.  No partsupp
    fixture: a part's "stock value" is the discounted revenue of its
    lineitems whose supplier sits in NATION_7 (same adaptation as
    q2/q9/q16/q20).

    Scale: one fact shuffle on l_partkey with map-side combine; the
    per-part frame (|parts| rows) is localCheckpoint'd so the global
    total re-aggregates the TINY frame, not the fact table, and joins
    back as a broadcast 1-row scalar.  Money stays DECIMAL(18,4) until
    the final double cast, so the threshold compare is engine-stable.
    """
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir).filter(F.col("n_name") == "NATION_7")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    per_part = materialize(
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(rev).alias("value_dec"))
    )
    total = per_part.select(F.sum("value_dec").cast("double").alias("tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("tot") * 0.001)
        .select("p_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + CASE-conditional counts per
    category.  No l_shipmode/l_receiptdate in the fixture: the category
    axis is l_returnflag and "late" means shipped after the order date,
    within the 1997 ship year; the high/low split on o_orderpriority is
    verbatim Q12.

    Scale: both facts shuffle once on the order key (sort-merge); the
    conditional counts are codegen'd CASE aggregates with map-side
    combine onto a 3-row result — no second shuffle.
    """
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, "orders", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.count(F.when(high, F.lit(1))).alias("high_line_count"),
            F.count(F.when(~high, F.lit(1))).alias("low_line_count"),
        )
    )


def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly salted shuffle join (functions/skew.salt_join_keys):
    the big side gets a random salt, the small side is replicated per
    salt, so a hot join key spreads over n_salts reducers.  The shuffle
    join is forced (broadcast would make salting moot); results are
    salt-invariant, which the plain-join oracle verifies.
    """
    from decisions_kinesis_spark.functions.skew import salt_join_keys

    ev = load_table(spark, "events", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    big, small, keys = salt_join_keys(ev, cust, "user_id")
    return (
        big.join(small.hint("shuffle_hash"), keys)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


_SKEW_TOP = 10  # heaviest join keys reported by the skew profiler


def profile_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW PROFILER — the diagnostic a pipeline runs BEFORE
    reaching for the mitigation levers this repo ships
    (``join_salted_skew`` / ``agg_salted_skew`` / AQE skew-join): per
    candidate shuffle key (here ``l_orderkey``, the fact⋈fact key of
    the q-series), the ``_SKEW_TOP`` heaviest keys with each key's row
    count, corpus share (ppm), and skew factor ×1000 (the key's count
    over the mean rows-per-key — the number that says how much longer
    the hottest reducer runs than the average one).  A top key at
    skew_x1000 ≈ 1000 means uniform; ≫1000 means salt or let AQE
    split.  All integer-exact (counts and truncating divs).

    Scale: ONE map-side-combining count per key, a 1-row moment
    broadcast, and a TakeOrdered top-10 — no global sort, no second
    scan; this is exactly the cardinality sketch a real engine's
    stats collector would persist, expressed as a query.
    """
    per_key = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_rows_key"))
    )
    mom = per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("n_rows_key").alias("n_rows"),
    )
    return (
        per_key.crossJoin(F.broadcast(mom))
        .select(
            F.col("l_orderkey").alias("join_key"),
            "n_rows_key",
            "n_keys",
            "n_rows",
            F.expr("n_rows_key * 1000000 div n_rows").alias("share_ppm"),
            # key_count·n_keys is ~N² at corpus scale — DECIMAL(38,0)
            # interior (outputs stay BIGINT: the ratio is bounded)
            F.expr(
                "cast(cast(n_rows_key as decimal(38,0)) * n_keys * 1000"
                " div n_rows as bigint)"
            ).alias("skew_x1000"),
        )
        .orderBy(F.desc("n_rows_key"), F.asc("join_key"))
        .limit(_SKEW_TOP)
    )


_HLL_P = 8  # register-index bits → m = 256 registers
_HLL_M = 1 << _HLL_P
_HLL_B = 48  # rank-hash bits (md5 hex chars 3..14)
_HLL_E0 = _HLL_B + 1  # scaled-sum exponent: S = Σ 2^(E0 − M_j)
#: α_256 = 0.7213/(1 + 1.079/256) = 0.7182726 — the HLL bias constant
#: (Flajolet et al. 2007) carried as an exact ppm integer; it is a
#: MODELING constant, so 1-ulp of its decimalization is not a
#: correctness concern — both engines use this same integer.
_HLL_ALPHA_PPM = 718273

#: register index = first 2 md5 hex chars (8 bits); rank hash = the
#: next 12 (48 bits) — disjoint slices of ONE digest per key (the
#: sketch-family hash-budget discipline)
_HLL_REG_SPARK = (
    "cast(conv(substring(md5(cast({k} as string)), 1, 2), 16, 10) as int)"
)
_HLL_HV_SPARK = (
    "cast(conv(substring(md5(cast({k} as string)), 3, 12), 16, 10)"
    " as bigint)"
)
_HLL_REG_DUCK = "('0x' || substr(md5({k}::VARCHAR), 1, 2))::INT"
_HLL_HV_DUCK = "('0x' || substr(md5({k}::VARCHAR), 3, 12))::BIGINT"
#: ρ = leading zeros in the 48-bit rank hash + 1 = 49 − bitlen(hv),
#: computed EXACTLY via the binary-string length (both engines render
#: minimal binary digits; hv = 0 → all zeros → ρ = 49)
_HLL_RHO_SPARK = (
    f"case when hv = 0 then {_HLL_E0}"
    f" else {_HLL_E0} - length(conv(hv, 10, 2)) end"
)
_HLL_RHO_DUCK = (
    f"CASE WHEN hv = 0 THEN {_HLL_E0}"
    f" ELSE {_HLL_E0} - length(bin(hv)) END"
)
#: raw estimate E = α·m²·2^E0 div (S·10⁶) — numerator ≈ 2.6e25 runs in
#: a DECIMAL(38,0)/HUGEINT interior, the output is a bounded BIGINT
_HLL_EST_SPARK = (
    f"cast(cast({_HLL_ALPHA_PPM} as decimal(38,0)) * {_HLL_M} * {_HLL_M}"
    f" * shiftleft(cast(1 as bigint), {_HLL_E0})"
    f" div (cast(s_total as decimal(38,0)) * 1000000) as bigint)"
)
_HLL_EST_DUCK = (
    f"({_HLL_ALPHA_PPM}::HUGEINT * {_HLL_M} * {_HLL_M}"
    f" * (1::HUGEINT << {_HLL_E0})"
    f" // (s_total::HUGEINT * 1000000))::BIGINT"
)


def _hll_est_frame(regs: DataFrame, keys: list[str], alias: str) -> DataFrame:
    """(keys…, mreg) register frame → (keys…, <alias> estimate): the
    one spelling of S = Σ2^(E0−M) + empties and the α·m²·2^E0 div S
    raw estimator, shared by every HLL query."""
    return (
        regs.groupBy(*keys)
        .agg(
            F.count("*").alias("n_present"),
            F.sum(
                F.expr(f"shiftleft(cast(1 as bigint), {_HLL_E0} - mreg)")
            ).alias("s_present"),
        )
        .select(
            *keys,
            F.expr(
                f"s_present + ({_HLL_M} - n_present)"
                f" * shiftleft(cast(1 as bigint), {_HLL_E0})"
            ).alias("s_total"),
        )
        .select(*keys, F.expr(_HLL_EST_SPARK).alias(alias))
    )


def agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch BUILT FROM SCRATCH on
    engine-replayable md5 registers — the fourth classic mergeable
    sketch beside KMV/count-min/Bloom.  Spark's built-in
    ``approx_count_distinct`` is HLL++ with an engine-private register
    layout (why the built-in suite is pytest-bound, see
    ``agg_kmv_distinct``); THIS pipeline derives register index and
    rank from disjoint slices of one md5 digest, so the registers —
    and therefore the estimate — are bit-identical in any engine, and
    the DuckDB oracle checks the VALUE.

    Per ``l_returnflag``: exact distinct parts, the raw HLL estimate
    ``E = α_m·m²/Σ2^(−M_j)`` (computed exactly as the scaled-integer
    ``α_ppm·m²·2^49 div (S·10⁶)`` with S = Σ2^(49−M_j) ≤ m·2^49, a
    bigint), and the signed error in ppm.  DELIBERATELY no small-range
    linear-counting correction HERE: the operating envelope of this
    per-returnflag query is n ≫ m where the raw estimator is the right
    one, and the err_ppm calibration column makes the small-n bias
    VISIBLE instead of hiding it.  The correction itself lives in
    ``sketches_ext.agg_hll_linear_counting`` (r13): ln(m/V) has the
    finite domain V ∈ {1..m}, so it ships as a 256-entry exact-ppm
    constant table — no libm at query time, the no-float rule holds.

    Scale: unlike KMV, HLL needs NO distinct pre-pass — register max
    is duplicate-insensitive — so the only shuffle is the m-bounded
    (group, register) max reduce, which combines map-side; the
    register table (≤ m rows per group) is the artifact a production
    pipeline stores per partition and merges by MAX
    (``agg_hll_monthly_rollup``).
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_partkey"
    )
    regs = (
        li.select(
            "l_returnflag",
            F.expr(_HLL_REG_SPARK.format(k="l_partkey")).alias("reg"),
            F.expr(_HLL_HV_SPARK.format(k="l_partkey")).alias("hv"),
        )
        .select(
            "l_returnflag", "reg", F.expr(_HLL_RHO_SPARK).alias("rho")
        )
        .groupBy("l_returnflag", "reg")
        .agg(F.max("rho").alias("mreg"))
    )
    ests = _hll_est_frame(regs, ["l_returnflag"], "hll_estimate")
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_exact")
    )
    return (
        ests.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "n_exact",
            "hll_estimate",
            F.expr(
                "((hll_estimate - n_exact) * 1000000) div n_exact"
            ).alias("err_ppm"),
        )
    )


def agg_hll_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL rollup ACROSS A PARTITION AXIS in pure SQL — the KMV
    monthly-rollup topology (store per-month sketches, merge for the
    year) with the HLL merge, which is even simpler: per-register MAX.
    Per year: the direct yearly estimate from raw rows and the
    merge-of-month-registers estimate, equal BY CONSTRUCTION (max is
    associative over any partitioning), exposed as an oracle-checked
    ``assoc_ok`` column beside the exact distinct customer count.

    Scale: the merge path reads |months|·m register rows, NOT the
    corpus — yearly cardinalities at 100 TB come from stored
    per-partition register tables; every reduce combines map-side.
    """
    ords = load_table(spark, "orders", sf_dir).select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        "o_custkey",
    )
    rho = ords.select(
        "yr",
        "mo",
        F.expr(_HLL_REG_SPARK.format(k="o_custkey")).alias("reg"),
        F.expr(_HLL_HV_SPARK.format(k="o_custkey")).alias("hv"),
    ).select("yr", "mo", "reg", F.expr(_HLL_RHO_SPARK).alias("rho"))
    month_regs = rho.groupBy("yr", "mo", "reg").agg(
        F.max("rho").alias("mreg")
    )

    merged = _hll_est_frame(
        month_regs.groupBy("yr", "reg").agg(F.max("mreg").alias("mreg")),
        ["yr"],
        "merged_est",
    )
    direct = _hll_est_frame(
        rho.groupBy("yr", "reg").agg(F.max("rho").alias("mreg")),
        ["yr"],
        "direct_est",
    )
    exact = ords.groupBy("yr").agg(
        F.count_distinct("o_custkey").alias("n_exact")
    )
    return (
        direct.join(merged, "yr")
        .join(exact, "yr")
        .select(
            "yr",
            "n_exact",
            "direct_est",
            "merged_est",
            (F.col("direct_est") == F.col("merged_est")).alias(
                "assoc_ok"
            ),
        )
    )


def agg_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations on HLL sketches: UNION is the lossless
    per-register MAX merge; INTERSECTION falls out by
    inclusion–exclusion, |A∩B| ≈ E(A) + E(B) − E(A∪B) — the standard
    HLL practice, and the family's documented WEAKNESS relative to
    KMV's Jaccard rule (``agg_kmv_set_ops``): I−E subtracts three
    noisy estimates, so small intersections can even come out
    NEGATIVE; the signed estimate is reported as-is next to the exact
    count so the calibration shows the trade honestly (HLL buys the
    cheaper duplicate-insensitive build and the lossless union; KMV
    buys the better intersection).

    Per returnflag pair: exact union/intersection distinct-part counts
    beside ``union_est`` and the signed ``inter_est`` — all register
    arithmetic exactly replayable in DuckDB.

    Scale: ONE (flag, register) max reduce is shared by all pairs; the
    per-pair union is a ≤ 2m-row register merge (never touches raw
    data — the mergeability point); exact counts are one pass over the
    pair-expanded distinct (flag, part) frame.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_partkey"
    )
    pairs = spark.createDataFrame(list(_KMV_PAIRS), "fa string, fb string")
    # The register hash is a function of l_partkey alone, so the
    # per-register max over raw rows equals the max over DISTINCT
    # (flag, part) rows — and the exact side needs that distinct frame
    # anyway.  Materialize it once: one scan+dedup feeds both sides,
    # and the md5 work runs over |distinct| rows, not |rows| (guide
    # §2.3 — aggregate before you hash/shuffle).
    d = materialize(li.distinct())
    regs = materialize(
        d.select(
            "l_returnflag",
            F.expr(_HLL_REG_SPARK.format(k="l_partkey")).alias("reg"),
            F.expr(_HLL_HV_SPARK.format(k="l_partkey")).alias("hv"),
        )
        .select(
            "l_returnflag", "reg", F.expr(_HLL_RHO_SPARK).alias("rho")
        )
        .groupBy("l_returnflag", "reg")
        .agg(F.max("rho").alias("mreg"))
    )
    singles = _hll_est_frame(regs, ["l_returnflag"], "e")
    union_regs = (
        regs.join(
            F.broadcast(pairs),
            (F.col("l_returnflag") == F.col("fa"))
            | (F.col("l_returnflag") == F.col("fb")),
        )
        .groupBy("fa", "fb", "reg")
        .agg(F.max("mreg").alias("mreg"))
    )
    u_est = _hll_est_frame(union_regs, ["fa", "fb"], "union_est")
    ests = (
        u_est.join(
            singles.select(
                F.col("l_returnflag").alias("fa"), F.col("e").alias("ea")
            ),
            "fa",
        )
        .join(
            singles.select(
                F.col("l_returnflag").alias("fb"), F.col("e").alias("eb")
            ),
            "fb",
        )
        .select(
            "fa",
            "fb",
            "union_est",
            F.expr("ea + eb - union_est").alias("inter_est"),
        )
    )
    fp = d.join(
        F.broadcast(pairs),
        (F.col("l_returnflag") == F.col("fa"))
        | (F.col("l_returnflag") == F.col("fb")),
    )
    exact = (
        fp.groupBy("fa", "fb", "l_partkey")
        .agg(F.count_distinct("l_returnflag").alias("nf"))
        .groupBy("fa", "fb")
        .agg(
            F.count("*").alias("n_union_exact"),
            F.sum(F.expr("if(nf = 2, 1L, 0L)")).alias("n_inter_exact"),
        )
    )
    return ests.join(exact, ["fa", "fb"]).select(
        "fa",
        "fb",
        "n_union_exact",
        "union_est",
        "n_inter_exact",
        "inter_est",
    )


_KMV_K = 64  # sketch size (k minimum hash values kept)
_KMV_BITS = 56  # hash space 2^56: (k-1)·2^56 stays inside BIGINT
#: shared hash + estimator definitions — ONE source of truth for both
#: KMV queries and both oracles (change the digest width here only)
_KMV_HASH_SPARK = (
    "cast(conv(substring(md5(cast(l_partkey as string)), 1, 14),"
    " 16, 10) as bigint)"
)
_KMV_HASH_DUCK = "('0x' || substr(md5(l_partkey::VARCHAR), 1, 14))::BIGINT"
_KMV_EST_SPARK = (
    f"if(k_actual < {_KMV_K}, k_actual,"
    f" (({_KMV_K} - 1) * cast({1 << _KMV_BITS} as bigint)) div vk)"
)
_KMV_EST_DUCK = (
    f"CASE WHEN k_actual < {_KMV_K} THEN k_actual"
    f" ELSE (({_KMV_K} - 1) * {1 << _KMV_BITS}::BIGINT) // vk END"
)


def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
    2002; the theta-sketch family's simplest member): the estimate is
    a pure function of the k smallest hash values — DV ≈ (k−1)·H / vₖ
    where vₖ is the k-th smallest hash in a space of size H.  Unlike
    HLL — whose register layout is engine-private, which is why
    ``agg_approx_suite`` is pytest-bound instead of oracled — KMV over
    the deterministic md5-derived hash is EXACTLY replayable in any
    engine, so this is a sketch whose VALUE has a DuckDB oracle.
    Groups with fewer than k distinct hashes report their exact count
    (the standard KMV small-set rule).  Per l_returnflag: exact
    distinct parts, the KMV estimate, and the signed error in ppm —
    the calibration row that justifies sketch-based distinct counting
    at 100 TB, where exact countDistinct is the expensive path.

    Arithmetic bounds: hashes use the first 14 md5 hex chars (56
    bits), so (k−1)·2^56 ≈ 4.5e18 < 2^63 — the estimate is one exact
    bigint division; 56-bit hashing is birthday-safe to ~2^28
    distincts per group (document wider digests beyond that).

    Scale: the (flag, hash) distinct is the same shuffle
    countDistinct needs; the k-smallest-per-group rank is a
    WindowGroupLimit plan — Spark pushes the rank ≤ k cut into a
    PER-PARTITION partial top-k before the shuffle, so only k rows
    per partition move (the window_topk discipline), never a
    whole-group sort on one reducer.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_partkey"
    )
    h = li.select(
        "l_returnflag",
        F.expr(_KMV_HASH_SPARK).alias("hv"),
    ).distinct()
    w = Window.partitionBy("l_returnflag").orderBy(F.asc("hv"))
    kmin = (
        h.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("l_returnflag")
        .agg(F.max("hv").alias("vk"), F.count("*").alias("k_actual"))
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_exact")
    )
    est = F.expr(_KMV_EST_SPARK)
    return (
        kmin.join(exact, "l_returnflag")
        .withColumn("kmv_estimate", est)
        .select(
            "l_returnflag",
            "n_exact",
            "kmv_estimate",
            F.expr(
                "((kmv_estimate - n_exact) * 1000000) div n_exact"
            ).alias("err_ppm"),
        )
    )


_KMV_PAIRS = (("A", "N"), ("A", "R"), ("N", "R"))


def agg_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations on KMV sketches — MERGEABILITY, the property
    that makes sketches the scale path: two groups' sketches union by
    keeping the k smallest of their combined hash sets (no re-scan of
    either side), and the intersection estimate falls out of the
    merged sketch via the Jaccard rule |A∩B| ≈ (members of the merged
    k-set present in BOTH sides) · DV(A∪B) / k (Beyer et al. 2007).
    At 100 TB this is how per-partition / per-day sketches roll up to
    corpus-wide distinct counts without touching raw data twice.

    Per returnflag pair: exact union/intersection distinct-part
    counts next to the sketch estimates — deterministic md5 hashing
    makes every estimate exactly replayable in DuckDB (the
    ``agg_kmv_distinct`` contract).

    Scale: one (flag, part) distinct shrinks the corpus once for BOTH
    sides (hashing runs over |distinct| rows — guide §2.3); per-pair
    k-smallest is a WindowGroupLimit partial top-k; the both-sides
    membership check joins the ≤ pairs·k member rows (tiny) back to
    the hash frame on (hv, flag) equi-keys; exact counts are one
    map-side-combining pass over the pair-expanded DISTINCT rows.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_partkey"
    )
    pairs = spark.createDataFrame(list(_KMV_PAIRS), "fa string, fb string")
    # ONE (flag, part) distinct frame feeds the hash side AND the
    # exact side (the agg_hll_set_ops discipline, guide §2.3
    # "aggregate before you hash/shuffle"): the md5 runs over
    # |distinct| rows instead of |rows|, and the exact side's
    # pair-expanded aggregation shrinks by the same factor — its
    # inner countDistinct(flag) also collapses to count(*) because
    # (flag, part) rows are already unique.
    d = materialize(li.distinct())
    # h feeds the candidate expansion AND both membership probes (3
    # consumers), members feeds kmin and the probe join (2) — a lazy
    # subtree replays per consumer, so the md5+distinct pass and the
    # per-pair bottom-k window each ran multiple times (guide §2.4)
    h = materialize(
        d.select(
            "l_returnflag",
            F.expr(_KMV_HASH_SPARK).alias("hv"),
        )
        .distinct()
    )
    cand = (
        h.join(
            F.broadcast(pairs),
            (F.col("l_returnflag") == F.col("fa"))
            | (F.col("l_returnflag") == F.col("fb")),
        )
        .select("fa", "fb", "hv")
        .distinct()
    )
    w = Window.partitionBy("fa", "fb").orderBy(F.asc("hv"))
    members = materialize(  # ≤ pairs·k rows
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
    )
    kmin = members.groupBy("fa", "fb").agg(
        F.max("hv").alias("vk"), F.count("*").alias("k_actual")
    )
    both = (
        members.join(
            h.select(F.col("l_returnflag").alias("f1"), F.col("hv").alias("h1")),
            (F.col("f1") == F.col("fa")) & (F.col("h1") == F.col("hv")),
        )
        .join(
            h.select(F.col("l_returnflag").alias("f2"), F.col("hv").alias("h2")),
            (F.col("f2") == F.col("fb")) & (F.col("h2") == F.col("hv")),
        )
        .groupBy("fa", "fb")
        .agg(F.count("*").alias("n_both"))
    )
    exact = (
        d.join(
            F.broadcast(pairs),
            (F.col("l_returnflag") == F.col("fa"))
            | (F.col("l_returnflag") == F.col("fb")),
        )
        .groupBy("fa", "fb", "l_partkey")
        # (flag, part) rows are distinct and flag ∈ {fa, fb}, so the
        # row count per (pair, part) IS the distinct-flag count
        .agg(F.count("*").alias("nf"))
        .groupBy("fa", "fb")
        .agg(
            F.count("*").alias("union_exact"),
            F.count(F.when(F.col("nf") == 2, 1)).alias("inter_exact"),
        )
    )
    u_est = F.expr(_KMV_EST_SPARK)
    return (
        kmin.join(both, ["fa", "fb"], "left")
        .join(exact, ["fa", "fb"])
        .withColumn("n_both", F.coalesce("n_both", F.lit(0)))
        .withColumn("union_est", u_est)
        .select(
            F.col("fa").alias("flag_a"),
            F.col("fb").alias("flag_b"),
            "union_exact",
            "union_est",
            "inter_exact",
            F.expr("(n_both * union_est) div k_actual").alias("inter_est"),
        )
    )


#: KMV hash for the customer axis (the ``_KMV_HASH_SPARK`` idiom on
#: o_custkey) — shared by the monthly-rollup query and its oracle.
_KMV_CUST_SPARK = (
    "cast(conv(substring(md5(cast(o_custkey as string)), 1, 14),"
    " 16, 10) as bigint)"
)
_KMV_CUST_DUCK = "('0x' || substr(md5(o_custkey::VARCHAR), 1, 14))::BIGINT"


def agg_kmv_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV rollup ACROSS A PARTITION AXIS in pure SQL — the 100 TB
    ingest topology made oracle-checkable: per order-month, the
    k-minimum-hash sketch of distinct ordering customers (the artifact
    a production pipeline computes per ingest day and STORES); per
    year, the yearly estimate derived two ways — directly from the raw
    rows, and by MERGING the stored month sketches (k smallest of the
    union of per-month k-min sets).  The two are equal BY CONSTRUCTION
    (any of the year's k smallest hashes is smaller than k others
    globally, hence within its own month's k smallest — so month
    sketches retain every global candidate), and the query exposes
    that associativity as an oracle-checked ``assoc_ok`` column plus
    both estimates value-for-value next to the exact distinct count.

    Scale: the merge path reads |months|·k sketch rows, NOT the
    corpus — at 100 TB yearly/overall distinct counts come from
    stored per-partition sketches without re-scanning history (the
    driver-state streaming dual is proof #10,
    tests/test_streaming_kmv.py; THIS query is the same merge inside
    one declarative plan).  Both k-min cuts are WindowGroupLimit
    partial top-k; everything else is map-side-combining aggregation.
    """
    ords = load_table(spark, "orders", sf_dir).select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        "o_custkey",
    )
    h = ords.select(
        "yr", "mo", F.expr(_KMV_CUST_SPARK).alias("hv")
    ).distinct()
    wm = Window.partitionBy("yr", "mo").orderBy(F.asc("hv"))
    month_k = (
        h.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") <= _KMV_K)
        .select("yr", "mo", "hv")
    )
    wy = Window.partitionBy("yr").orderBy(F.asc("hv"))
    est = F.expr(_KMV_EST_SPARK)
    merged = (
        month_k.select("yr", "hv")
        .distinct()
        .withColumn("rk", F.row_number().over(wy))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("yr")
        .agg(F.max("hv").alias("vk"), F.count("*").alias("k_actual"))
        .select("yr", est.alias("merged_est"))
    )
    direct = (
        h.select("yr", "hv")
        .distinct()
        .withColumn("rk", F.row_number().over(wy))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("yr")
        .agg(F.max("hv").alias("vk"), F.count("*").alias("k_actual"))
        .select("yr", est.alias("direct_est"))
    )
    exact = ords.groupBy("yr").agg(
        F.count_distinct("o_custkey").alias("n_exact")
    )
    return (
        exact.join(direct, "yr")
        .join(merged, "yr")
        .select(
            "yr",
            "n_exact",
            "direct_est",
            "merged_est",
            (F.col("direct_est") == F.col("merged_est")).alias("assoc_ok"),
        )
    )


_CMS_D = 4  # sketch depth (independent salted hash rows)
_CMS_W = 2048  # sketch width (cells per row) — state is d·w cells TOTAL
_CMS_TOPK = 20


def _cms_digest_spark(col: str) -> str:
    """Spark SQL: ONE md5 digest per key — the d depth rows slice
    disjoint 8-hex-char (32-bit) ranges of it instead of hashing d
    times (measured: the salted-md5-per-depth form spent ~4× the md5
    budget for identical independence, since the 128 digest bits cover
    all 4×32 slice bits)."""
    return f"md5(cast({col} as string))"


def _cms_digest_duck(col: str) -> str:
    return f"md5({col}::VARCHAR)"


def _cms_cell_spark(d: int, dg: str) -> str:
    """Spark SQL: depth-``d`` cell index from a digest column/expr —
    hex slice [1+8d, 8] reduced mod the sketch width."""
    return (
        f"cast(conv(substring({dg}, {1 + 8 * d}, 8), 16, 10) as bigint)"
        f" % {_CMS_W}"
    )


def _cms_cell_duck(d: int, dg: str) -> str:
    return (
        f"(('0x' || substr({dg}, {1 + 8 * d}, 8))::BIGINT % {_CMS_W})"
    )


def freq_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch (Cormode & Muthukrishnan 2005) with
    exact calibration — the FREQUENCY member of the mergeable-sketch
    family next to KMV's distinct counting (``agg_kmv_distinct``): cell
    ``(d, h_d(x) mod w)`` accumulates every occurrence of ``x`` under
    depth-``d``'s hash (a disjoint 32-bit slice of the per-key md5
    digest), and the point estimate is the MIN over the ``d`` cells —
    an overestimate by construction (collisions only ever add), never
    an underestimate.  Per top-``{K}``-by-exact-count
    customer: exact order count, the CMS estimate, and the signed
    overcount in ppm (always ≥ 0 — the one-sided error bound is the
    checkable contract).  Deterministic md5-derived hashes make the
    sketch VALUE itself oracle-able, the ``agg_kmv_distinct``
    discipline.

    Scale: the sketch build is ONE map-side-combining aggregation whose
    key space is bounded at d·w = {DW} cells regardless of data volume
    — at 100 TB the shuffle moves ≤ d·w rows per map partition, and
    cells MERGE BY ADDITION, so per-partition / per-day sketches roll
    up associatively (the streaming dual is proven exact in
    tests/test_streaming_cms.py).  Heavy-hitter selection is a
    distributed TakeOrderedAndProject (no global window), and the probe
    join ships the bounded sketch to the ≤ K·d probe rows broadcast.
    """
    ords = load_table(spark, "orders", sf_dir).select("o_custkey")
    depth_cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    F.expr(_cms_cell_spark(d, "dg")).alias("cell"),
                )
                for d in range(_CMS_D)
            ]
        )
    ).alias("x")
    cells = (
        ords.select(F.expr(_cms_digest_spark("o_custkey")).alias("dg"))
        .select(depth_cells)
        .select("x.d", "x.cell")
        .groupBy("d", "cell")
        .agg(F.count("*").alias("cnt"))
    )
    top = (
        ords.groupBy("o_custkey")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("o_custkey"))
        .limit(_CMS_TOPK)
    )
    probes = top.select(
        "o_custkey",
        "n_exact",
        F.expr(_cms_digest_spark("o_custkey")).alias("dg"),
    ).select("o_custkey", "n_exact", depth_cells).select(
        "o_custkey", "n_exact", "x.d", "x.cell"
    )
    est = (
        probes.join(F.broadcast(cells), ["d", "cell"])
        .groupBy("o_custkey", "n_exact")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "o_custkey",
        "n_exact",
        "cms_estimate",
        F.expr("((cms_estimate - n_exact) * 1000000) div n_exact").alias(
            "overcount_ppm"
        ),
    )


freq_countmin_topk.__doc__ = freq_countmin_topk.__doc__.format(
    K=_CMS_TOPK, DW=_CMS_D * _CMS_W
)

_BLOOM_K = 3  # hash functions per key
_BLOOM_M = 16384  # filter bits — 256 64-bit words broadcast to every task


def _bloom_pos_spark(i: int, dg: str) -> str:
    """Spark SQL: bloom bit position ``i`` from a digest column/expr —
    hex slice [1+10i, 10] (40 bits) of the single per-key md5, reduced
    mod the filter size (the ``_cms_digest_spark`` discipline: one
    md5, k disjoint slices)."""
    return (
        f"cast(conv(substring({dg}, {1 + 10 * i}, 10), 16, 10) as bigint)"
        f" % {_BLOOM_M}"
    )


def _bloom_pos_duck(i: int, dg: str) -> str:
    return (
        f"(('0x' || substr({dg}, {1 + 10 * i}, 10))::BIGINT % {_BLOOM_M})"
    )


def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning (Bloom 1970) made explicit and
    engine-replayable — the MEMBERSHIP member of the sketch family, and
    the mechanism behind Spark's own runtime row-group pruning
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``): the dim-side
    key set (suppliers in region EUROPE) folds to an m-bit filter; a
    fact row is prefilter-PASSED when all k salted bit positions are
    set.  No false negatives by construction (every true match passes);
    the report quantifies the false-positive cost per returnflag —
    n_rows, bloom-passed, exact semi-join matches, false positives, and
    the FP rate in ppm over true non-members — the calibration row that
    justifies shipping an O(m)-bit filter instead of the key set when
    the dim side is too big to broadcast as a hash table.

    Scale: the filter build aggregates the dim keys' bit positions to
    ≤ m/64 = {W} words (map-side-combining ``bit_or``), folds them to a
    ONE-ROW ``map<word, bits>``, and broadcasts that single row to
    every task — state is O(m) bits independent of both table sizes.
    Membership is k pure-JVM bit probes per fact row (codegen; no join,
    no shuffle on the fact side); the exact-match comparison joins the
    broadcast dim key set.  At 100 TB the fact side streams through a
    narrow map with a constant-size filter in hand — the textbook
    runtime-filter topology.
    """
    sup = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_regionkey"
    )
    reg = load_table(spark, "region", sf_dir).filter(
        F.col("r_name") == "EUROPE"
    )
    dim = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(
            F.broadcast(reg),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    pos = dim.select(
        F.expr(_cms_digest_spark("s_suppkey")).alias("dg")
    ).select(
        F.explode(
            F.array(
                *[F.expr(_bloom_pos_spark(i, "dg")) for i in range(_BLOOM_K)]
            )
        ).alias("p")
    ).distinct()
    words = pos.groupBy(F.expr("cast(p div 64 as int)").alias("w")).agg(
        F.expr(
            "bit_or(shiftleft(cast(1 as bigint), cast(p % 64 as int)))"
        ).alias("bits")
    )
    bitset = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("bm")
    )
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_suppkey", "l_returnflag")
        .withColumn("dg", F.expr(_cms_digest_spark("l_suppkey")))
        .select(
            "l_suppkey",
            "l_returnflag",
            *[
                F.expr(_bloom_pos_spark(i, "dg")).alias(f"p{i}")
                for i in range(_BLOOM_K)
            ],
        )
    )
    member = F.lit(True)
    for i in range(_BLOOM_K):
        member = member & F.expr(
            f"(shiftright(coalesce(try_element_at(bm,"
            f" cast(p{i} div 64 as int)), cast(0 as bigint)),"
            f" cast(p{i} % 64 as int)) & 1) = 1"
        )
    fact = (
        li.crossJoin(F.broadcast(bitset))
        .withColumn("pass_bloom", member)
        .join(
            F.broadcast(dim),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left",
        )
    )
    agg = fact.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("pass_bloom"), 1)).alias("n_pass_bloom"),
        F.count(F.when(F.col("s_suppkey").isNotNull(), 1)).alias(
            "n_true_match"
        ),
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        "n_pass_bloom",
        "n_true_match",
        (F.col("n_pass_bloom") - F.col("n_true_match")).alias("n_false_pos"),
        F.expr(
            "case when n_rows - n_true_match = 0 then cast(0 as bigint)"
            " else ((n_pass_bloom - n_true_match) * 1000000)"
            "      div (n_rows - n_true_match) end"
        ).alias("fp_ppm"),
    )


join_bloom_prefilter.__doc__ = join_bloom_prefilter.__doc__.format(
    W=_BLOOM_M // 64
)

_CMS_ROLL_TOPK = 5  # heavy hitters probed per year


def freq_cms_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min rollup ACROSS A PARTITION AXIS in pure SQL — the
    frequency-sketch sibling of ``agg_kmv_monthly_rollup``: per
    order-month, the d×w cell table of customer-order counts (the
    artifact a production pipeline computes per ingest day and
    STORES); per year, the cell table derived two ways — directly from
    the raw rows, and by MERGING the stored month sketches cellwise
    (count-min cells merge BY ADDITION — Cormode & Muthukrishnan 2005
    §4.1).  The two are equal cell-for-cell by associativity of sum,
    and the query exposes that as an oracle-checked ``cells_ok``
    column; the merged sketch then answers per-year heavy-hitter
    point estimates (top-{K} customers by exact yearly count) with the
    one-sided overcount contract (``overcount_ppm`` ≥ 0 always).

    Scale: the merge path reads |months|·d·w bounded sketch rows, NOT
    the corpus — at 100 TB yearly frequency estimates come from stored
    per-partition sketches without re-scanning history (the
    driver-state streaming dual is tests/test_streaming_cms.py; THIS
    is the same cellwise-sum merge inside one declarative plan).  Both
    cell builds are map-side-combining aggregations over a key space
    bounded at d·w cells per group; the equality audit joins two
    bounded cell tables; heavy-hitter selection is a per-year
    WindowGroupLimit top-k; the probe join ships ≤ years·K·d rows
    against the bounded merged cells.
    """
    ords = load_table(spark, "orders", sf_dir).select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        "o_custkey",
    )
    depth_cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    F.expr(_cms_cell_spark(d, "dg")).alias("cell"),
                )
                for d in range(_CMS_D)
            ]
        )
    ).alias("x")
    exploded = (
        ords.select(
            "yr", "mo", F.expr(_cms_digest_spark("o_custkey")).alias("dg")
        )
        .select("yr", "mo", depth_cells)
        .select("yr", "mo", "x.d", "x.cell")
    )
    monthly = exploded.groupBy("yr", "mo", "d", "cell").agg(
        F.count("*").alias("cnt")
    )
    merged = monthly.groupBy("yr", "d", "cell").agg(
        F.sum("cnt").alias("cnt")
    )
    direct = exploded.groupBy("yr", "d", "cell").agg(
        F.count("*").alias("cnt")
    )
    m = merged.alias("m")
    dd = direct.alias("dd")
    cells_ok = (
        m.join(dd, ["yr", "d", "cell"], "full_outer")
        .groupBy("yr")
        .agg(
            F.bool_and(
                F.col("m.cnt").isNotNull()
                & F.col("dd.cnt").isNotNull()
                & (F.col("m.cnt") == F.col("dd.cnt"))
            ).alias("cells_ok")
        )
    )
    wy = Window.partitionBy("yr").orderBy(
        F.desc("n_exact"), F.asc("o_custkey")
    )
    top = (
        ords.groupBy("yr", "o_custkey")
        .agg(F.count("*").alias("n_exact"))
        .withColumn("rk", F.row_number().over(wy))
        .filter(F.col("rk") <= _CMS_ROLL_TOPK)
        .drop("rk")
    )
    probes = (
        top.withColumn("dg", F.expr(_cms_digest_spark("o_custkey")))
        .select("yr", "o_custkey", "n_exact", depth_cells)
        .select("yr", "o_custkey", "n_exact", "x.d", "x.cell")
    )
    est = (
        probes.join(F.broadcast(merged), ["yr", "d", "cell"])
        .groupBy("yr", "o_custkey", "n_exact")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.join(F.broadcast(cells_ok), "yr").select(
        "yr",
        "o_custkey",
        "n_exact",
        "cms_estimate",
        F.expr("((cms_estimate - n_exact) * 1000000) div n_exact").alias(
            "overcount_ppm"
        ),
        "cells_ok",
    )


freq_cms_monthly_rollup.__doc__ = freq_cms_monthly_rollup.__doc__.format(
    K=_CMS_ROLL_TOPK
)


def agg_bloom_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter rollup ACROSS A PARTITION AXIS in pure SQL — the
    membership member of the rollup trio (KMV distinct / CMS frequency
    / Bloom membership): per order-month, the set-bit positions of the
    month's ordering customers (the stored per-ingest-day artifact);
    per year, the bit set derived two ways — directly from the raw
    rows, and by OR-MERGING the stored month filters (Bloom filters
    over the same (m, k) merge by bitwise OR — set union distributes
    over the hash).  Bit-for-bit equality is exposed as the
    oracle-checked ``bits_ok`` column; the merged filter is then
    probed with EVERY customer per year — true members all pass (no
    false negatives by construction) and the false-positive cost over
    true non-members is reported in ppm, per year.

    Scale: the merge path reads |months|·(≤m) bounded bit rows, NOT
    the corpus — at 100 TB "did this key appear in month X..Y" runs
    against stored per-partition filters without re-scanning history
    (the driver-state streaming dual is the OR-merge proof in
    tests/test_streaming_bloom.py; THIS is the same merge inside one
    declarative plan).  Bit builds are distinct-aggregations bounded
    at m positions per group; the probe is an equi-join of the
    customers' k position rows against the ≤ years·m merged bit rows
    (broadcastable at any data scale — the filter is O(m) bits by
    construction); membership = all k positions matched.
    """
    ords = load_table(spark, "orders", sf_dir).select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        "o_custkey",
    )
    pos_arr = F.explode(
        F.array(
            *[F.expr(_bloom_pos_spark(i, "dg")) for i in range(_BLOOM_K)]
        )
    ).alias("p")
    month_bits = (
        ords.select(
            "yr", "mo", F.expr(_cms_digest_spark("o_custkey")).alias("dg")
        )
        .select("yr", "mo", pos_arr)
        .distinct()
    )
    merged = month_bits.select("yr", "p").distinct()
    direct = (
        ords.select(
            "yr", F.expr(_cms_digest_spark("o_custkey")).alias("dg")
        )
        .select("yr", pos_arr)
        .distinct()
    )
    m = merged.alias("m").withColumn("mhit", F.lit(1))
    dd = direct.alias("dd").withColumn("dhit", F.lit(1))
    bits = (
        m.join(dd, ["yr", "p"], "full_outer")
        .groupBy("yr")
        .agg(
            F.count(F.when(F.col("mhit").isNotNull(), 1)).alias(
                "n_bits_set"
            ),
            F.bool_and(
                F.col("mhit").isNotNull() & F.col("dhit").isNotNull()
            ).alias("bits_ok"),
        )
    )
    cust_pos = (
        load_table(spark, "customer", sf_dir)
        .select(
            "c_custkey", F.expr(_cms_digest_spark("c_custkey")).alias("dg")
        )
        .select(
            "c_custkey",
            F.posexplode(
                F.array(
                    *[
                        F.expr(_bloom_pos_spark(i, "dg"))
                        for i in range(_BLOOM_K)
                    ]
                )
            ).alias("i", "p"),
        )
    )
    years = ords.select("yr").distinct()
    passed = (
        cust_pos.crossJoin(F.broadcast(years))
        .join(merged.withColumn("hit", F.lit(1)), ["yr", "p"], "left")
        .groupBy("yr", "c_custkey")
        .agg(
            F.count(F.when(F.col("hit").isNotNull(), 1)).alias("n_hit")
        )
        .groupBy("yr")
        .agg(
            F.count("*").alias("n_probed"),
            F.count(F.when(F.col("n_hit") == _BLOOM_K, 1)).alias(
                "n_pass_bloom"
            ),
        )
    )
    members = (
        ords.select("yr", "o_custkey")
        .distinct()
        .groupBy("yr")
        .agg(F.count("*").alias("n_true_member"))
    )
    return (
        bits.join(passed, "yr")
        .join(members, "yr")
        .select(
            "yr",
            "n_bits_set",
            "n_probed",
            "n_pass_bloom",
            "n_true_member",
            (F.col("n_pass_bloom") - F.col("n_true_member")).alias(
                "n_false_pos"
            ),
            F.expr(
                "case when n_probed - n_true_member = 0"
                " then cast(0 as bigint)"
                " else ((n_pass_bloom - n_true_member) * 1000000)"
                "      div (n_probed - n_true_member) end"
            ).alias("fp_ppm"),
            "bits_ok",
        )
    )


_QS_K = 256  # sample size per group (bottom-k by hash rank)
#: x10^4 money quantization (the analytics_ext._MONEY_X10000 spelling,
#: here for l_extendedprice) — selections and error ppm stay exact
#: bigint on both engines.
_QS_PQ_SPARK = "cast(floor(l_extendedprice * 10000 + 0.5) as bigint)"
_QS_PQ_DUCK = "floor(l_extendedprice * 10000 + 0.5)::BIGINT"
#: per-row hash rank over the UNIQUE (orderkey, linenumber) key — the
#: 56-bit md5-prefix discipline; hv ties (negligible, but possible)
#: break on the value so both engines select identically.
_QS_HV_SPARK = (
    "cast(conv(substring(md5(concat(cast(l_orderkey as string), ':',"
    " cast(l_linenumber as string))), 1, 14), 16, 10) as bigint)"
)
_QS_HV_DUCK = (
    "('0x' || substr(md5(l_orderkey::VARCHAR || ':' ||"
    " l_linenumber::VARCHAR), 1, 14))::BIGINT"
)


def quantile_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantile estimation from a MERGEABLE bottom-k
    hash-rank sample — the QUANTILE member of the sketch family
    (KMV = distinct, CMS = frequency, Bloom = membership): the k rows
    with the smallest deterministic per-row hash are a uniform random
    sample of the group (the hash is the randomness), and two samples
    merge by keeping the k smallest of their union — the KMV union
    rule applied to payload-carrying rows, which is how per-partition
    samples roll up to corpus-wide quantiles at 100 TB without a
    global sort.  Per returnflag: exact and sample discrete quantiles
    (median, p90) of the x10^4-quantized price, and the signed sample
    error in ppm.  Everything is selection + integer arithmetic over
    deterministic hashes, so the sample quantiles themselves are
    oracle-exact (the ``agg_kmv_distinct`` contract).

    Discrete-quantile definition shared by both engines and both
    paths: over the 1-indexed value-sorted multiset, position
    ``t_q = ((n-1)·q_num) div q_den + 1``; the quantile is the
    smallest value whose cumulative count reaches t_q.

    Scale: the sample side is a WindowGroupLimit bottom-k — each map
    partition forwards at most k rows per group (the ``window_topk``
    discipline), and the per-group sorted array is ≤ k elements
    (bounded collect_list by construction).  The exact side — the
    expensive path the sample replaces at scale — aggregates to
    distinct quantized values first (domain-bounded: the x10^4 money
    grid), then one cumulative window per group over that bounded
    frame; group count and target positions ride a broadcast
    |groups|-row join.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        F.expr(_QS_PQ_SPARK).alias("pq"),
        F.expr(_QS_HV_SPARK).alias("hv"),
    )
    vc = li.groupBy("l_returnflag", "pq").agg(F.count("*").alias("cnt"))
    # group total n_rows rides the SAME flag partitioning as the
    # cumulative window (one exchange, a second WindowExec pass) —
    # previously a second evaluation of the whole vc aggregation plus
    # a broadcast join computed it (Spark replays lazy subtrees once
    # per consumer; guide §2.4)
    cum = (
        vc.withColumn(
            "cum",
            F.sum("cnt").over(
                Window.partitionBy("l_returnflag")
                .orderBy("pq")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "n_rows", F.sum("cnt").over(Window.partitionBy("l_returnflag"))
        )
        .withColumn("t50", F.expr("((n_rows - 1) * 5) div 10 + 1"))
        .withColumn("t90", F.expr("((n_rows - 1) * 9) div 10 + 1"))
    )
    exact = cum.groupBy("l_returnflag", "n_rows").agg(
        F.min(F.when(F.col("cum") >= F.col("t50"), F.col("pq"))).alias(
            "exact_median_q"
        ),
        F.min(F.when(F.col("cum") >= F.col("t90"), F.col("pq"))).alias(
            "exact_p90_q"
        ),
    )
    samp = (
        li.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("l_returnflag").orderBy("hv", "pq")
            ),
        )
        .filter(F.col("rk") <= _QS_K)
        .groupBy("l_returnflag")
        .agg(
            F.sort_array(F.collect_list("pq")).alias("vals"),
            F.count("*").alias("k_actual"),
        )
        .select(
            "l_returnflag",
            F.expr(
                "element_at(vals, cast(((k_actual - 1) * 5) div 10 + 1"
                " as int))"
            ).alias("sample_median_q"),
            F.expr(
                "element_at(vals, cast(((k_actual - 1) * 9) div 10 + 1"
                " as int))"
            ).alias("sample_p90_q"),
        )
    )
    return exact.join(samp, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "exact_median_q",
        "sample_median_q",
        F.expr(
            "case when exact_median_q = 0 then cast(0 as bigint)"
            " else ((sample_median_q - exact_median_q) * 1000000)"
            "      div exact_median_q end"
        ).alias("med_err_ppm"),
        "exact_p90_q",
        "sample_p90_q",
        F.expr(
            "case when exact_p90_q = 0 then cast(0 as bigint)"
            " else ((sample_p90_q - exact_p90_q) * 1000000)"
            "      div exact_p90_q end"
        ).alias("p90_err_ppm"),
    )


_WPS_D = 100  # inclusion-probability denominator: p_i = w_i / D
#: per-row inclusion hash — the 56-bit md5-prefix discipline with a
#: DISTINCT salt (':wps') so selection is independent of the
#: quantile-sample rank hash and the shuffle/shard hash.
_WPS_HV_SPARK = (
    "cast(conv(substring(md5(concat(cast(l_orderkey as string), ':',"
    " cast(l_linenumber as string), ':wps')), 1, 14), 16, 10) as bigint)"
)
_WPS_HV_DUCK = (
    "('0x' || substr(md5(l_orderkey::VARCHAR || ':' ||"
    " l_linenumber::VARCHAR || ':wps'), 1, 14))::BIGINT"
)


def sample_weighted_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Poisson (Bernoulli-per-row) sampling with a
    Horvitz–Thompson total estimator — the size-biased sampling
    primitive behind importance-weighted corpus subsampling and
    sampling-based aggregation: row i enters the sample independently
    with probability p_i = w_i/{D} proportional to its weight
    (w = l_quantity, integer 1..50), decided by a deterministic salted
    56-bit md5 hash mod {D} < w — reproducible across runs, engines,
    and partitionings, no RNG.  Per returnflag: population size and
    exact ×10⁴-quantized price total next to the sample size and
    the floor-HT estimate Σ (q_i · {D}) div w_i over sampled rows
    (floor division keeps the estimator integer-exact and hash-stable
    on both engines; the ≤1-unit-per-row floor bias is absorbed by the
    reported signed ``err_ppm``).  High-weight rows are selected
    preferentially yet unbiasedly reweighted — the estimator is the
    checkable contract.

    Scale: inclusion is a scan-side hash compare (zero shuffle, no
    sample materialization); both totals come from ONE
    map-side-combining aggregation pass.  At 100 TB this is the
    query-the-sample-estimate-the-population path: the sample is
    |rows|·E[p] in expectation, and the estimator's variance falls out
    of per-group counts without a second scan.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        F.expr("cast(l_quantity as bigint)").alias("w"),
        F.expr(_QS_PQ_SPARK).alias("qv"),
        (F.expr(_WPS_HV_SPARK) % _WPS_D).alias("hv"),
    )
    rows = li.withColumn("sampled", F.col("hv") < F.col("w"))
    return rows.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("sampled"), 1)).alias("n_sampled"),
        F.sum("qv").alias("exact_q"),
        F.sum(
            F.when(
                F.col("sampled"),
                F.expr(f"(qv * {_WPS_D}) div w"),
            ).otherwise(F.lit(0))
        ).alias("ht_q"),
    ).select(
        "l_returnflag",
        "n_rows",
        "n_sampled",
        "exact_q",
        "ht_q",
        F.expr(
            # decimal(38,0) difference: (ht-exact)·1e6 overflows bigint
            # once group totals pass ~9.2e12 quantized units (hit at
            # the 20× replica smoke; certain at production scale)
            "case when exact_q = 0 then cast(0 as bigint)"
            " else cast((cast(ht_q as decimal(38,0)) - exact_q)"
            " * 1000000 div exact_q as bigint) end"
        ).alias("err_ppm"),
    )


sample_weighted_poisson.__doc__ = sample_weighted_poisson.__doc__.format(
    D=_WPS_D
)


def fuzzy_match_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage: resolve DIRTY records
    (supplier names with a deterministic one-character deletion — the
    ``_with_injected_dups`` fixture discipline) back to their clean
    source by blocked edit-distance matching: candidates pair only
    within the natural blocking key (nation), ``levenshtein ≤ 2``
    filters, and the best match is the min-(distance, key) candidate.
    This is the fuzzy-JOIN shape (dedup's MinHash family is fuzzy
    GROUPING); Spark's and DuckDB's ``levenshtein`` compute the same
    unit-cost DP distance, so every value is oracle-exact.

    Scale: the dirty probe set broadcasts (it is the small side by
    construction — failed loads, manual entries); candidate pairs
    exist only inside nation blocks, so the quadratic term is bounded
    per block (the dedup length-band discipline); the edit distance
    runs codegen JVM-side on candidates only, and best-match selection
    is a map-side-combining ``min_by`` — no window over hot blocks.
    """
    sup = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    dirty = sup.filter(F.col("s_suppkey") % 10 == 0).select(
        F.col("s_suppkey").alias("d_key"),
        F.expr(
            "concat(substring(s_name, 1, 5),"
            " substring(s_name, 7, length(s_name)))"
        ).alias("d_name"),
        F.col("s_nationkey").alias("d_nat"),
    )
    cand = (
        sup.join(F.broadcast(dirty), F.col("s_nationkey") == F.col("d_nat"))
        .withColumn("dist", F.levenshtein("d_name", "s_name"))
        .filter(F.col("dist") <= 2)
    )
    return (
        cand.groupBy("d_key", "d_name")
        .agg(
            F.count("*").alias("n_candidates"),
            F.min("dist").alias("best_distance"),
            F.min_by(
                "s_suppkey", F.struct(F.col("dist"), F.col("s_suppkey"))
            ).alias("matched_key"),
        )
        .select(
            "d_key",
            "d_name",
            "matched_key",
            "best_distance",
            "n_candidates",
            (F.col("matched_key") == F.col("d_key")).alias("correct"),
        )
    )


def cdc_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE applied as a batch operator — the lakehouse
    maintenance shape (Delta/Iceberg ``MERGE INTO``) in vanilla
    DataFrame algebra, since plain parquet has no MERGE: a
    deterministic change batch (DELETE for key%75=0, else UPDATE for
    key%50=0, INSERT at key + offset for key%100=0, where offset =
    max(base key) + 1 — DERIVED, so inserted keys never collide with
    base keys at any scale factor) left-joins the base on the key; the
    snapshot keeps base rows without a change, drops op='D', takes the
    changed values for op='U', and appends the inserts.  Output: the
    merged snapshot restricted to the audit neighborhood (key%25=0 —
    covering updated, deleted-absent, and unchanged-control keys —
    plus all inserts), proving all four merge outcomes in one frame.

    Scale: the change batch is tiny by definition — broadcast against
    the base (at CDC volumes this is the standard copy-on-write merge
    join); the base never shuffles; values pass through or take one
    exact IEEE add, so both engines agree bitwise.
    """
    base = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    changes = base.filter((k % 50 == 0) | (k % 75 == 0)).select(
        k.alias("c_key"),
        F.when(k % 75 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.lit("X").alias("new_status"),
        (F.col("o_totalprice") + F.lit(1.0)).alias("new_total"),
    )
    # collision-free insert offset at ANY scale factor: max base key
    # (a 1-row broadcast; a fixed constant would collide with base
    # keys once the table outgrows it)
    off = base.groupBy().agg((F.max(k) + 1).alias("off"))
    inserts = (
        base.filter(k % 100 == 0)
        .join(F.broadcast(off))
        .select(
            (k + F.col("off")).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.col("o_totalprice").alias("o_totalprice"),
        )
    )
    merged = (
        base.join(
            F.broadcast(changes), k == F.col("c_key"), "left"
        )
        .filter((F.col("op").isNull()) | (F.col("op") == "U"))
        .select(
            "o_orderkey",
            F.when(F.col("op") == "U", F.col("new_status"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(F.col("op") == "U", F.col("new_total"))
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(inserts)
    )
    return merged.join(F.broadcast(off)).filter(
        (F.col("o_orderkey") % 25 == 0) | (F.col("o_orderkey") >= F.col("off"))
    ).drop("off")


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "join_broadcast_dims": join_broadcast_dims,
    "join_semi_customers_with_orders": join_semi_customers_with_orders,
    "join_anti_customers_without_orders": join_anti_customers_without_orders,
    "agg_rollup_lineitem": agg_rollup_lineitem,
    "agg_cube_orders": agg_cube_orders,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_count_distinct": agg_count_distinct,
    "agg_kmv_distinct": agg_kmv_distinct,
    "agg_kmv_set_ops": agg_kmv_set_ops,
    "agg_kmv_monthly_rollup": agg_kmv_monthly_rollup,
    "agg_hll_distinct": agg_hll_distinct,
    "agg_hll_monthly_rollup": agg_hll_monthly_rollup,
    "agg_hll_set_ops": agg_hll_set_ops,
    "freq_countmin_topk": freq_countmin_topk,
    "freq_cms_monthly_rollup": freq_cms_monthly_rollup,
    "join_bloom_prefilter": join_bloom_prefilter,
    "agg_bloom_monthly_rollup": agg_bloom_monthly_rollup,
    "quantile_bottomk_sample": quantile_bottomk_sample,
    "sample_weighted_poisson": sample_weighted_poisson,
    "fuzzy_match_suppliers": fuzzy_match_suppliers,
    "cdc_upsert_orders": cdc_upsert_orders,
    "agg_pivot_event_counts": agg_pivot_event_counts,
    "window_topk_orders_per_customer": window_topk_orders_per_customer,
    "window_running_sum_events": window_running_sum_events,
    "window_lag_delta_events": window_lag_delta_events,
    "window_sessionize_events": window_sessionize_events,
    "sort_limit_topk_lineitems": sort_limit_topk_lineitems,
    "set_union_segments": set_union_segments,
    "set_intersect_buyers": set_intersect_buyers,
    "set_except_nonbuyers": set_except_nonbuyers,
    "set_except_all_statuses": set_except_all_statuses,
    "split_train_val": split_train_val,
    "split_stratified_rates": split_stratified_rates,
    "scalar_function_suite": scalar_function_suite,
    "join_outer_customer_order_counts": join_outer_customer_order_counts,
    "join_full_outer_priority_sets": join_full_outer_priority_sets,
    "agg_stats_suite": agg_stats_suite,
    "agg_value_histogram": agg_value_histogram,
    "profile_table_quality": profile_table_quality,
    # agg_approx_suite deliberately NOT registered: sketches are
    # engine-specific (no DuckDB oracle possible), so a registry entry
    # would permanently occupy a gate slot as a non-green `no_oracle`
    # row.  Validated instead by tests/test_operators.py's
    # error-bound test against the exact aggregates.
    "agg_salted_skew": agg_salted_skew,
    "q7_nation_volume": q7_nation_volume,
    "q14_promo_revenue": q14_promo_revenue,
    "q2_min_price_supplier": q2_min_price_supplier,
    "q4_order_priority": q4_order_priority,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q13_customer_distribution": q13_customer_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q22_sales_opportunity": q22_sales_opportunity,
    "q16_part_supplier_counts": q16_part_supplier_counts,
    "q20_excess_suppliers": q20_excess_suppliers,
    "q21_single_supplier_orders": q21_single_supplier_orders,
    "q11_important_parts": q11_important_parts,
    "q12_late_shipment_priority": q12_late_shipment_priority,
    "join_salted_skew": join_salted_skew,
    "profile_join_skew": profile_join_skew,
    "sql_udf_money_buckets": sql_udf_money_buckets,
    "sql_parameterized_revenue": sql_parameterized_revenue,
    "sql_lateral_top_order": sql_lateral_top_order,
    "window_rank_suite": window_rank_suite,
    "window_rolling_1h_sum": window_rolling_1h_sum,
    "window_rows_frame_stats": window_rows_frame_stats,
    "agg_array_collect": agg_array_collect,
    "sql_cte_correlated": sql_cte_correlated,
    "sql_recursive_subtree_rollup": sql_recursive_subtree_rollup,
    "sql_pipe_syntax_revenue": sql_pipe_syntax_revenue,
    "sql_null_semantics_audit": sql_null_semantics_audit,
    "scalar_date_suite": scalar_date_suite,
    "unpivot_lineitem_measures": unpivot_lineitem_measures,
    "json_typed_extraction": json_typed_extraction,
    "json_variant_extraction": json_variant_extraction,
    "scalar_conditional_suite": scalar_conditional_suite,
    "json_nested_array_extraction": json_nested_array_extraction,
}

ORACLES = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "q5_local_supplier_volume": """
        SELECT n_name, r_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name, r_name
    """,
    "q6_forecast_revenue": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "join_broadcast_dims": """
        SELECT n_nationkey, n_name, r_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    "join_semi_customers_with_orders": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
    "join_anti_customers_without_orders": """
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
    """,
    "agg_rollup_lineitem": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "agg_cube_orders": """
        SELECT o_orderstatus, o_orderpriority,
               round(sum(o_totalprice), 2) AS sum_price,
               count(*) AS n_orders
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "agg_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(avg(o_totalprice), 4) AS avg_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "agg_count_distinct": """
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_supps,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "agg_pivot_event_counts": """
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click') AS click,
               count(*) FILTER (WHERE event_type = 'error') AS error,
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               count(*) FILTER (WHERE event_type = 'signup') AS signup,
               count(*) FILTER (WHERE event_type = 'view') AS view
        FROM events
        GROUP BY user_id
    """,
    "window_topk_orders_per_customer": """
        SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey ASC)
                       AS rk
            FROM orders
        ) WHERE rk <= 3
    """,
    "window_running_sum_events": """
        SELECT user_id, event_id,
               round(sum(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW), 4)
                   AS running_value
        FROM events
    """,
    "window_lag_delta_events": """
        SELECT user_id, event_id,
               round(value - lag(value) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id), 6)
                   AS delta_value
        FROM events
    """,
    "window_sessionize_events": """
        SELECT user_id, sum(new_sess)::BIGINT AS n_sessions FROM (
            SELECT user_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 300000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ) GROUP BY user_id
    """,
    "sort_limit_topk_lineitems": """
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        LIMIT 25
    """,
    "set_union_segments": """
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    """,
    "set_intersect_buyers": """
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
    "set_except_all_statuses": """
        WITH surv AS (
            SELECT o_orderstatus FROM orders
            WHERE o_orderpriority <> '1-URGENT'
            EXCEPT ALL
            SELECT o_orderstatus FROM orders WHERE o_totalprice < 10000
        )
        SELECT o_orderstatus, count(*) AS n_surviving
        FROM surv GROUP BY o_orderstatus
    """,
    "split_stratified_rates": """
        SELECT lang,
               CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                         % 100 < (CASE WHEN lang = 'en' THEN 90 ELSE 80 END)
                    THEN 'train' ELSE 'val' END AS split,
               count(*) AS n_docs,
               sum(doc_id)::BIGINT AS id_checksum
        FROM documents
        GROUP BY 1, 2
    """,
    "split_train_val": """
        SELECT lang,
               CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                         % 100 < 90
                    THEN 'train' ELSE 'val' END AS split,
               count(*) AS n_docs,
               sum(doc_id)::BIGINT AS id_checksum
        FROM documents
        GROUP BY 1, 2
    """,
    "set_except_nonbuyers": """
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    "scalar_function_suite": """
        SELECT o_orderkey,
               upper(o_orderstatus) AS status_u,
               lower(o_orderpriority) AS prio_l,
               substr(o_orderpriority, 1, 1) AS prio_code,
               length(o_orderpriority)::BIGINT AS prio_len,
               concat_ws('|', o_orderstatus, o_orderpriority) AS status_prio,
               year(o_orderdate)::BIGINT AS o_year,
               month(o_orderdate)::BIGINT AS o_month,
               day(o_orderdate)::BIGINT AS o_day,
               date_trunc('month', o_orderdate)::TIMESTAMP AS month_start,
               round(o_totalprice, 0) AS price_r0,
               floor(o_totalprice)::BIGINT AS price_floor,
               ceil(o_totalprice)::BIGINT AS price_ceil,
               round(abs(o_totalprice - 100000.0), 2) AS price_dev,
               round(ln(o_totalprice), 6) AS price_ln,
               round(sqrt(o_totalprice), 6) AS price_sqrt
        FROM orders
    """,
    "join_outer_customer_order_counts": """
        SELECT c_custkey, c_mktsegment,
               count(o_orderkey) AS n_orders,
               round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spend
        FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_mktsegment
    """,
    "join_full_outer_priority_sets": """
        WITH urgent AS (
            SELECT o_custkey AS cust_u, count(*) AS n_urgent
            FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
        ),
        high AS (
            SELECT o_custkey AS cust_h, count(*) AS n_high
            FROM orders WHERE o_orderpriority = '2-HIGH' GROUP BY o_custkey
        )
        SELECT coalesce(cust_u, cust_h) AS custkey,
               coalesce(n_urgent, 0) AS n_urgent,
               coalesce(n_high, 0) AS n_high
        FROM urgent FULL OUTER JOIN high ON cust_u = cust_h
    """,
    "agg_stats_suite": """
        SELECT event_type,
               count(*) AS n,
               round(avg(value), 6) AS avg_v,
               round(stddev_samp(value), 6) AS std_v,
               round(var_samp(value), 6) AS var_v,
               round(quantile_cont(value, 0.5), 6) AS median_v,
               round(min(value), 6) AS min_v,
               round(max(value), 6) AS max_v
        FROM events
        GROUP BY event_type
    """,
    "agg_salted_skew": """
        SELECT l_returnflag,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "q7_nation_volume": """
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               year(l_shipdate)::BIGINT AS l_year,
               sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4)))::DOUBLE AS volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
    "q2_min_price_supplier": """
        WITH eu_supp AS (
            SELECT s_suppkey, s_name, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ),
        offers AS (
            SELECT l_partkey, s_suppkey, s_name, n_name,
                   floor(l_extendedprice / l_quantity * 1e4 + 0.5) / 1e4
                       AS unit_price
            FROM lineitem JOIN eu_supp ON l_suppkey = s_suppkey
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY l_partkey
                          ORDER BY unit_price ASC, s_suppkey ASC) AS rk
            FROM offers
        )
        SELECT l_partkey AS p_partkey, s_suppkey, s_name, n_name, unit_price
        FROM ranked WHERE rk = 1
        ORDER BY unit_price ASC, p_partkey ASC, s_suppkey ASC
        LIMIT 25
    """,
    "q11_important_parts": """
        WITH pp AS (
            SELECT l_partkey AS p_partkey,
                   sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,4))) AS value_dec
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'
            GROUP BY l_partkey
        )
        SELECT p_partkey, value_dec::DOUBLE AS part_value
        FROM pp
        WHERE value_dec::DOUBLE > (SELECT sum(value_dec)::DOUBLE * 0.001 FROM pp)
    """,
    "q12_late_shipment_priority": """
        SELECT l_returnflag AS ship_class,
               count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
                   AS high_line_count,
               count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                   AS low_line_count
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_returnflag
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
    """,
    "q8_market_share": """
        SELECT year(o_orderdate)::BIGINT AS o_year,
               round(sum(CASE WHEN n2.n_name = 'NATION_7'
                              THEN CAST(l_extendedprice * (1 - l_discount)
                                        AS DECIMAL(18,4))
                              ELSE CAST(0 AS DECIMAL(18,4)) END)::DOUBLE /
                     sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4)))::DOUBLE, 6) AS mkt_share,
               sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4)))::DOUBLE AS total_volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY year(o_orderdate)
    """,
    "q9_product_profit": """
        SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
               sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4)))::DOUBLE AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, year(o_orderdate)
    """,
    "q13_customer_distribution": """
        WITH per_cust AS (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                            AND o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY c_custkey
        )
        SELECT c_count, count(*) AS custdist
        FROM per_cust GROUP BY c_count
    """,
    "q15_top_supplier": """
        WITH per_supp AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,4))) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_rev::DOUBLE AS total_rev
        FROM per_supp
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_rev = (SELECT max(total_rev) FROM per_supp)
    """,
    "q17_small_quantity_revenue": """
        WITH li_b AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#23'
        ),
        per_part AS (
            SELECT l_partkey AS ap_key, avg(l_quantity) AS avg_qty
            FROM li_b GROUP BY l_partkey
        )
        SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,4)))::DOUBLE / 7.0,
                     4) AS avg_yearly,
               count(*) AS n_items
        FROM li_b JOIN per_part ON l_partkey = ap_key
        WHERE l_quantity < 0.2 * avg_qty
    """,
    "q18_large_orders": """
        WITH big AS (
            SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING round(sum(l_quantity), 2) > 200
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate,
               o_totalprice, sum_qty
        FROM orders
        JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
    """,
    "q19_disjunctive_revenue": """
        SELECT sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4)))::DOUBLE AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "q16_part_supplier_counts": """
        SELECT p_brand, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#45'
          AND NOT starts_with(p_type, 'MEDIUM')
          AND p_size IN (1, 14, 23, 45)
        GROUP BY p_brand, p_size
    """,
    "q20_excess_suppliers": """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE starts_with(p_name, 'red')
            GROUP BY l_suppkey
            HAVING round(sum(l_quantity), 2) > 100
        )
    """,
    "q21_single_supplier_orders": """
        WITH l1 AS (
            SELECT DISTINCT l_orderkey, l_suppkey
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        ),
        sole AS (
            SELECT l_orderkey, l_suppkey FROM l1
            WHERE NOT EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey
            )
        )
        SELECT s_name, count(DISTINCT l_orderkey) AS numwait
        FROM sole JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_name
    """,
    "join_salted_skew": """
        SELECT c_mktsegment, count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    # SQL-UDF bodies inlined — exactly what Spark's inlining tier does
    "sql_udf_money_buckets": """
        WITH q AS (
            SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
            FROM orders
        )
        SELECT CASE WHEN cents < 10000000 THEN 'small'
                    WHEN cents < 20000000 THEN 'mid'
                    ELSE 'large' END AS bucket,
               count(*) AS n_orders,
               (sum(cents::HUGEINT) // count(*))::BIGINT AS cents_avg
        FROM q
        GROUP BY 1
    """,
    # named parameters constant-folded — the binding-equivalence check
    "sql_parameterized_revenue": """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               (sum(floor(o_totalprice * 100 + 0.5)::BIGINT::HUGEINT)
                // count(*))::BIGINT AS cents_avg
        FROM orders
        WHERE o_orderstatus = 'F'
          AND floor(o_totalprice * 100 + 0.5)::BIGINT >= 5000000
        GROUP BY o_orderpriority
    """,
    "sql_lateral_top_order": """
        SELECT c.c_custkey, l.top_orderkey, l.top_cents
        FROM (SELECT c_custkey FROM customer
              WHERE c_mktsegment = 'BUILDING') c,
        LATERAL (
            SELECT o_orderkey AS top_orderkey,
                   floor(o_totalprice * 100 + 0.5)::BIGINT AS top_cents
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY top_cents DESC, o_orderkey ASC
            LIMIT 1
        ) l
    """,
    "profile_join_skew": f"""
        WITH per_key AS (
            SELECT l_orderkey AS join_key,
                   count(*)::BIGINT AS n_rows_key
            FROM lineitem GROUP BY 1
        ),
        mom AS (
            SELECT count(*)::BIGINT AS n_keys,
                   sum(n_rows_key)::BIGINT AS n_rows
            FROM per_key
        )
        SELECT join_key, n_rows_key, n_keys, n_rows,
               (n_rows_key * 1000000 // n_rows)::BIGINT AS share_ppm,
               (n_rows_key::HUGEINT * n_keys * 1000 // n_rows)::BIGINT
                   AS skew_x1000
        FROM per_key, mom
        ORDER BY n_rows_key DESC, join_key ASC
        LIMIT {_SKEW_TOP}
    """,
    "q22_sales_opportunity": """
        SELECT n_name, count(*) AS numcust,
               sum(CAST(c_acctbal AS DECIMAL(18,2)))::DOUBLE AS totacctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY n_name
    """,
    "q14_promo_revenue": """
        SELECT round(100.0 *
                   sum(CASE WHEN starts_with(p_type, 'PROMO')
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0.0 END) /
                   sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-07-01'
    """,
    "window_rank_suite": """
        SELECT o_custkey, o_orderkey,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               round(percent_rank() OVER w, 6) AS prnk,
               round(cume_dist() OVER w, 6) AS cdist,
               ntile(4) OVER w AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
    "window_rolling_1h_sum": """
        SELECT user_id, event_id,
               round(sum(value) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts)
                                      RANGE BETWEEN 3600000000 PRECEDING
                                                AND CURRENT ROW), 4)
                   AS rolling_1h_value
        FROM events
    """,
    "window_rows_frame_stats": """
        SELECT user_id, event_id,
               round(sum(value) OVER w, 4) AS mov_sum,
               round(min(value) OVER w, 4) AS mov_min,
               round(max(value) OVER w, 4) AS mov_max,
               count(*) OVER w AS frame_n
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    """,
    "agg_array_collect": """
        SELECT l_returnflag,
               array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
                   AS statuses,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "sql_cte_correlated": _SQL_CTE_CORRELATED,
    # fully portable ANSI — both engines implement the three-valued
    # NOT IN semantics the query audits
    "sql_null_semantics_audit": _SQL_NULL_SEMANTICS,
    # pipe syntax is Spark-4 surface sugar; the oracle is the classic
    # form of the same aggregate (identical semantics by construction).
    # ×10⁴-BIGINT money spelling on BOTH sides — no double→decimal cast
    # anywhere (the r7 driver hash-fail class); output DECIMAL(38,0).
    "sql_pipe_syntax_revenue": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_lines,
               sum((floor(l_extendedprice * 100 + 0.5)::BIGINT
                    * floor(l_discount * 100 + 0.5)::BIGINT)::HUGEINT
                   )::VARCHAR AS revenue_x10000
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1997-01-01'
          AND l_discount BETWEEN 0.02 AND 0.09
          AND l_quantity < 25
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    # WITH RECURSIVE is portable; only integer division differs
    # (Spark `div`, DuckDB `//`) — plus BIGINT output pinning.
    "sql_recursive_subtree_rollup": f"""
        WITH RECURSIVE anc(partkey, cents, ancestor, depth) AS (
            SELECT p_partkey, {_P_CENTS_DUCK}, p_partkey // 10, 1
            FROM part WHERE p_partkey >= 10
            UNION ALL
            SELECT partkey, cents, ancestor // 10, depth + 1
            FROM anc WHERE ancestor >= 10
        )
        SELECT ancestor, count(*)::BIGINT AS n_descendants,
               sum(cents)::BIGINT AS subtree_cents,
               max(depth)::BIGINT AS max_depth
        FROM anc WHERE ancestor < 100
        GROUP BY ancestor
    """,
    "scalar_date_suite": """
        SELECT o_orderkey,
               o_orderdate::DATE + 30 AS plus_30d,
               o_orderdate::DATE - 7 AS minus_7d,
               date_diff('day', o_orderdate::DATE, DATE '2000-01-01')::BIGINT
                   AS days_to_y2k,
               last_day(o_orderdate::DATE) AS month_end,
               dayofweek(o_orderdate::DATE)::BIGINT + 1 AS dow,
               quarter(o_orderdate::DATE)::BIGINT AS qtr,
               round(
                   (year(DATE '2000-01-01') - year(o_orderdate)) * 12
                   + (month(DATE '2000-01-01') - month(o_orderdate))
                   + (1 - day(o_orderdate)) / 31.0, 6) AS months_to_y2k,
               strftime(o_orderdate, '%Y-%m') AS ym
        FROM orders
    """,
    "unpivot_lineitem_measures": """
        WITH long AS (
            SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem
            UNION ALL
            SELECT 'price', l_extendedprice FROM lineitem
            UNION ALL
            SELECT 'discount', l_discount FROM lineitem
        )
        SELECT measure, count(*) AS n,
               sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS total
        FROM long GROUP BY measure
    """,
    "profile_table_quality": """
        SELECT count(*) AS n_rows,
               sum((l_orderkey IS NULL)::BIGINT)::BIGINT AS null_orderkey,
               sum((l_shipdate IS NULL)::BIGINT)::BIGINT AS null_shipdate,
               count(DISTINCT l_orderkey) AS d_orderkey,
               count(DISTINCT l_partkey) AS d_partkey,
               count(DISTINCT l_returnflag) AS d_returnflag,
               round(min(l_extendedprice), 4) AS min_price,
               round(max(l_extendedprice), 4) AS max_price,
               min(l_shipdate) AS min_shipdate,
               max(l_shipdate) AS max_shipdate
        FROM lineitem
    """,
    "agg_value_histogram": """
        SELECT event_type,
               least(greatest(floor(value / 10)::BIGINT, 0), 19) AS bucket,
               count(*) AS n,
               round(min(value), 4) AS lo,
               round(max(value), 4) AS hi
        FROM events
        GROUP BY 1, 2
    """,
    "scalar_conditional_suite": """
        WITH o AS (
            SELECT o_custkey, max(o_totalprice) AS top_price,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey
        )
        SELECT c_custkey,
               coalesce(top_price, 0.0) AS top_or_zero,
               nullif(c_acctbal, 0.0) AS bal_nullif_zero,
               CASE WHEN n_orders IS NULL THEN 'none'
                    WHEN n_orders > 10 THEN 'many'
                    ELSE 'some' END AS order_band,
               greatest(coalesce(top_price, 0.0), c_acctbal) AS best_value,
               least(coalesce(n_orders, 0), 5)::BIGINT AS capped_orders,
               top_price IS NULL AS never_ordered
        FROM customer LEFT JOIN o ON c_custkey = o_custkey
    """,
    "json_nested_array_extraction": """
        SELECT event_id,
               event_type AS m_type,
               user_id::VARCHAR AS m_uid,
               json_extract_string(props, '$.k') AS tag0,
               event_id::VARCHAR AS tag1
        FROM events
    """,
    "json_typed_extraction": """
        SELECT event_type, count(*) AS n,
               sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k
        FROM events
        WHERE json_extract(props, '$.k')::BIGINT > 50
        GROUP BY event_type
    """,
    "json_variant_extraction": """
        SELECT event_type, count(*)::BIGINT AS n,
               sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
               max(json_extract(props, '$.k')::BIGINT)::BIGINT AS max_k,
               sum(CASE WHEN json_valid(substr(props, 1,
                                               length(props) - 1)) THEN 0
                        ELSE 1 END)::BIGINT AS n_malformed
        FROM events GROUP BY event_type
    """,
}

# KMV sketch: the estimate is a pure function of the k smallest
# deterministic hashes, so the sketch VALUE itself is oracled.
ORACLES["agg_kmv_distinct"] = f"""
    WITH h AS (
        SELECT DISTINCT l_returnflag,
               {_KMV_HASH_DUCK} AS hv
        FROM lineitem
    ),
    kmin AS (
        SELECT l_returnflag, max(hv)::BIGINT AS vk,
               count(*)::BIGINT AS k_actual
        FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                          ORDER BY hv ASC) AS rk FROM h)
        WHERE rk <= {_KMV_K}
        GROUP BY l_returnflag
    ),
    exact AS (
        SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS n_exact
        FROM lineitem GROUP BY l_returnflag
    ),
    est AS (
        SELECT k.l_returnflag, e.n_exact,
               {_KMV_EST_DUCK} AS kmv_estimate
        FROM kmin k JOIN exact e ON k.l_returnflag = e.l_returnflag
    )
    SELECT l_returnflag, n_exact, kmv_estimate,
           ((kmv_estimate - n_exact) * 1000000) // n_exact AS err_ppm
    FROM est
"""

# KMV set ops: merged-sketch union + Jaccard-rule intersection, all
# pure functions of deterministic hashes — exactly replayable.
ORACLES["agg_kmv_set_ops"] = f"""
    WITH pairs AS (SELECT * FROM (VALUES {", ".join(f"('{a}', '{b}')" for a, b in _KMV_PAIRS)}) AS v(fa, fb)),
    h AS (
        SELECT DISTINCT l_returnflag,
               {_KMV_HASH_DUCK} AS hv
        FROM lineitem
    ),
    cand AS (
        SELECT DISTINCT p.fa, p.fb, h.hv
        FROM h JOIN pairs p
          ON h.l_returnflag = p.fa OR h.l_returnflag = p.fb
    ),
    members AS (
        SELECT fa, fb, hv FROM (
            SELECT *, row_number() OVER (PARTITION BY fa, fb
                          ORDER BY hv ASC) AS rk
            FROM cand)
        WHERE rk <= {_KMV_K}
    ),
    kmin AS (
        SELECT fa, fb, max(hv)::BIGINT AS vk, count(*)::BIGINT AS k_actual
        FROM members GROUP BY fa, fb
    ),
    bothsides AS (
        SELECT m.fa, m.fb, count(*)::BIGINT AS n_both
        FROM members m
        JOIN h h1 ON h1.l_returnflag = m.fa AND h1.hv = m.hv
        JOIN h h2 ON h2.l_returnflag = m.fb AND h2.hv = m.hv
        GROUP BY m.fa, m.fb
    ),
    exact AS (
        SELECT fa, fb, count(*)::BIGINT AS union_exact,
               count(*) FILTER (WHERE nf = 2)::BIGINT AS inter_exact
        FROM (
            SELECT p.fa, p.fb, l.l_partkey,
                   count(DISTINCT l.l_returnflag) AS nf
            FROM lineitem l JOIN pairs p
              ON l.l_returnflag = p.fa OR l.l_returnflag = p.fb
            GROUP BY p.fa, p.fb, l.l_partkey)
        GROUP BY fa, fb
    ),
    est AS (
        SELECT k.fa, k.fb, e.union_exact, e.inter_exact,
               coalesce(b.n_both, 0) AS n_both, k.k_actual,
               {_KMV_EST_DUCK} AS union_est
        FROM kmin k
        LEFT JOIN bothsides b ON b.fa = k.fa AND b.fb = k.fb
        JOIN exact e ON e.fa = k.fa AND e.fb = k.fb
    )
    SELECT fa AS flag_a, fb AS flag_b, union_exact, union_est,
           inter_exact, (n_both * union_est) // k_actual AS inter_est
    FROM est
"""

# KMV monthly rollup: both estimation paths are pure functions of the
# deterministic hashes; the associativity equality replays exactly.
ORACLES["agg_kmv_monthly_rollup"] = f"""
    WITH ords AS (
        SELECT year(o_orderdate)::BIGINT AS yr,
               month(o_orderdate)::BIGINT AS mo, o_custkey
        FROM orders
    ),
    h AS (
        SELECT DISTINCT yr, mo, {_KMV_CUST_DUCK} AS hv FROM ords
    ),
    month_k AS (
        SELECT yr, mo, hv FROM (
            SELECT *, row_number() OVER (PARTITION BY yr, mo
                          ORDER BY hv ASC) AS rk FROM h)
        WHERE rk <= {_KMV_K}
    ),
    merged AS (
        SELECT yr, max(hv)::BIGINT AS vk, count(*)::BIGINT AS k_actual
        FROM (
            SELECT yr, hv FROM (
                SELECT yr, hv, row_number() OVER (PARTITION BY yr
                              ORDER BY hv ASC) AS rk
                FROM (SELECT DISTINCT yr, hv FROM month_k))
            WHERE rk <= {_KMV_K})
        GROUP BY yr
    ),
    direct AS (
        SELECT yr, max(hv)::BIGINT AS vk, count(*)::BIGINT AS k_actual
        FROM (
            SELECT yr, hv FROM (
                SELECT yr, hv, row_number() OVER (PARTITION BY yr
                              ORDER BY hv ASC) AS rk
                FROM (SELECT DISTINCT yr, hv FROM h))
            WHERE rk <= {_KMV_K})
        GROUP BY yr
    ),
    exact AS (
        SELECT yr, count(DISTINCT o_custkey)::BIGINT AS n_exact
        FROM ords GROUP BY yr
    ),
    ests AS (
        SELECT e.yr, e.n_exact,
               (SELECT {_KMV_EST_DUCK} FROM direct
                WHERE direct.yr = e.yr) AS direct_est,
               (SELECT {_KMV_EST_DUCK} FROM merged
                WHERE merged.yr = e.yr) AS merged_est
        FROM exact e
    )
    SELECT yr, n_exact, direct_est, merged_est,
           direct_est = merged_est AS assoc_ok
    FROM ests
"""

# HLL from scratch: register index/rank are disjoint md5 slices, ρ is
# the exact binary-string bit length, the raw estimate is one
# HUGEINT-interior integer division — fully replayable.
ORACLES["agg_hll_distinct"] = f"""
    WITH rho AS (
        SELECT l_returnflag,
               {_HLL_REG_DUCK.format(k="l_partkey")} AS reg,
               {_HLL_RHO_DUCK} AS rho
        FROM (
            SELECT l_returnflag, l_partkey,
                   {_HLL_HV_DUCK.format(k="l_partkey")} AS hv
            FROM lineitem
        )
    ),
    regs AS (
        SELECT l_returnflag, reg, max(rho)::BIGINT AS mreg
        FROM rho GROUP BY 1, 2
    ),
    sums AS (
        SELECT l_returnflag,
               (sum(1::BIGINT << ({_HLL_E0} - mreg))
                + ({_HLL_M} - count(*))
                  * (1::BIGINT << {_HLL_E0}))::BIGINT AS s_total
        FROM regs GROUP BY 1
    ),
    exact AS (
        SELECT l_returnflag,
               count(DISTINCT l_partkey)::BIGINT AS n_exact
        FROM lineitem GROUP BY 1
    ),
    est AS (
        SELECT s.l_returnflag, e.n_exact,
               {_HLL_EST_DUCK} AS hll_estimate
        FROM sums s JOIN exact e USING (l_returnflag)
    )
    SELECT l_returnflag, n_exact, hll_estimate,
           ((hll_estimate - n_exact) * 1000000) // n_exact AS err_ppm
    FROM est
"""

ORACLES["agg_hll_monthly_rollup"] = f"""
    WITH rho AS (
        SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
               {_HLL_REG_DUCK.format(k="o_custkey")} AS reg,
               {_HLL_RHO_DUCK} AS rho
        FROM (
            SELECT o_orderdate, o_custkey,
                   {_HLL_HV_DUCK.format(k="o_custkey")} AS hv
            FROM orders
        )
    ),
    month_regs AS (
        SELECT yr, mo, reg, max(rho)::BIGINT AS mreg
        FROM rho GROUP BY 1, 2, 3
    ),
    merged_regs AS (
        SELECT yr, reg, max(mreg)::BIGINT AS mreg
        FROM month_regs GROUP BY 1, 2
    ),
    direct_regs AS (
        SELECT yr, reg, max(rho)::BIGINT AS mreg
        FROM rho GROUP BY 1, 2
    ),
    msum AS (
        SELECT yr,
               (sum(1::BIGINT << ({_HLL_E0} - mreg))
                + ({_HLL_M} - count(*))
                  * (1::BIGINT << {_HLL_E0}))::BIGINT AS s_total
        FROM merged_regs GROUP BY 1
    ),
    dsum AS (
        SELECT yr,
               (sum(1::BIGINT << ({_HLL_E0} - mreg))
                + ({_HLL_M} - count(*))
                  * (1::BIGINT << {_HLL_E0}))::BIGINT AS s_total
        FROM direct_regs GROUP BY 1
    ),
    exact AS (
        SELECT year(o_orderdate) AS yr,
               count(DISTINCT o_custkey)::BIGINT AS n_exact
        FROM orders GROUP BY 1
    ),
    ests AS (
        SELECT d.yr, e.n_exact,
               (SELECT {_HLL_EST_DUCK} FROM dsum s
                WHERE s.yr = d.yr) AS direct_est,
               (SELECT {_HLL_EST_DUCK} FROM msum s
                WHERE s.yr = d.yr) AS merged_est
        FROM dsum d JOIN exact e USING (yr)
    )
    SELECT yr, n_exact, direct_est, merged_est,
           direct_est = merged_est AS assoc_ok
    FROM ests
"""

ORACLES["agg_hll_set_ops"] = f"""
    WITH pairs AS (SELECT * FROM (VALUES {", ".join(f"('{a}', '{b}')" for a, b in _KMV_PAIRS)}) AS v(fa, fb)),
    rho AS (
        SELECT l_returnflag,
               {_HLL_REG_DUCK.format(k="l_partkey")} AS reg,
               {_HLL_RHO_DUCK} AS rho
        FROM (
            SELECT l_returnflag, l_partkey,
                   {_HLL_HV_DUCK.format(k="l_partkey")} AS hv
            FROM lineitem
        )
    ),
    regs AS (
        SELECT l_returnflag, reg, max(rho)::BIGINT AS mreg
        FROM rho GROUP BY 1, 2
    ),
    single_sums AS (
        SELECT l_returnflag,
               (sum(1::BIGINT << ({_HLL_E0} - mreg))
                + ({_HLL_M} - count(*))
                  * (1::BIGINT << {_HLL_E0}))::BIGINT AS s_total
        FROM regs GROUP BY 1
    ),
    singles AS (
        SELECT l_returnflag, {_HLL_EST_DUCK} AS e FROM single_sums
    ),
    union_regs AS (
        SELECT p.fa, p.fb, r.reg, max(r.mreg)::BIGINT AS mreg
        FROM regs r JOIN pairs p
          ON r.l_returnflag = p.fa OR r.l_returnflag = p.fb
        GROUP BY 1, 2, 3
    ),
    union_sums AS (
        SELECT fa, fb,
               (sum(1::BIGINT << ({_HLL_E0} - mreg))
                + ({_HLL_M} - count(*))
                  * (1::BIGINT << {_HLL_E0}))::BIGINT AS s_total
        FROM union_regs GROUP BY 1, 2
    ),
    ests AS (
        SELECT u.fa, u.fb, {_HLL_EST_DUCK} AS union_est,
               sa.e AS ea, sb.e AS eb
        FROM union_sums u
        JOIN singles sa ON sa.l_returnflag = u.fa
        JOIN singles sb ON sb.l_returnflag = u.fb
    ),
    fp AS (
        SELECT DISTINCT p.fa, p.fb, l.l_returnflag, l.l_partkey
        FROM lineitem l JOIN pairs p
          ON l.l_returnflag = p.fa OR l.l_returnflag = p.fb
    ),
    exact AS (
        SELECT fa, fb, count(*)::BIGINT AS n_union_exact,
               sum(CASE WHEN nf = 2 THEN 1 ELSE 0 END)::BIGINT
                   AS n_inter_exact
        FROM (
            SELECT fa, fb, l_partkey,
                   count(DISTINCT l_returnflag) AS nf
            FROM fp GROUP BY 1, 2, 3
        ) GROUP BY 1, 2
    )
    SELECT e.fa, e.fb, x.n_union_exact, e.union_est,
           x.n_inter_exact, (e.ea + e.eb - e.union_est)::BIGINT
               AS inter_est
    FROM ests e JOIN exact x USING (fa, fb)
"""

# Count-min: cell counts are exact sums under deterministic salted
# hashes and the estimate is a min over d cells — fully replayable.
ORACLES["freq_countmin_topk"] = f"""
    WITH dgs AS (
        SELECT {_cms_digest_duck('o_custkey')} AS dg FROM orders
    ),
    cells AS (
        SELECT d, cell, count(*)::BIGINT AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {d} AS d, {_cms_cell_duck(d, 'dg')} AS cell"
                " FROM dgs"
                for d in range(_CMS_D)
            )}
        ) GROUP BY d, cell
    ),
    top AS (
        SELECT o_custkey, count(*)::BIGINT AS n_exact,
               {_cms_digest_duck('o_custkey')} AS dg
        FROM orders GROUP BY o_custkey
        ORDER BY n_exact DESC, o_custkey LIMIT {_CMS_TOPK}
    ),
    probes AS (
        {" UNION ALL ".join(
            f"SELECT o_custkey, n_exact, {d} AS d,"
            f" {_cms_cell_duck(d, 'dg')} AS cell FROM top"
            for d in range(_CMS_D)
        )}
    ),
    est AS (
        SELECT p.o_custkey, p.n_exact, min(c.cnt)::BIGINT AS cms_estimate
        FROM probes p JOIN cells c ON c.d = p.d AND c.cell = p.cell
        GROUP BY p.o_custkey, p.n_exact
    )
    SELECT o_custkey, n_exact, cms_estimate,
           ((cms_estimate - n_exact) * 1000000) // n_exact AS overcount_ppm
    FROM est
"""

# Bloom prefilter: membership == all k positions in the dim-side
# position SET (identical to the bitmap probe), so false positives
# replay exactly under the deterministic salted hashes.
ORACLES["join_bloom_prefilter"] = f"""
    WITH dim AS (
        SELECT s_suppkey FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    dimdg AS (
        SELECT {_cms_digest_duck('s_suppkey')} AS dg FROM dim
    ),
    pos AS (
        SELECT DISTINCT p FROM (
            {" UNION ALL ".join(
                f"SELECT {_bloom_pos_duck(i, 'dg')} AS p FROM dimdg"
                for i in range(_BLOOM_K)
            )}
        )
    ),
    fact AS (
        SELECT l_returnflag,
               ({" AND ".join(
                   f"{_bloom_pos_duck(i, 'dg')} IN"
                   " (SELECT p FROM pos)"
                   for i in range(_BLOOM_K)
               )}) AS pass_bloom,
               l_suppkey IN (SELECT s_suppkey FROM dim) AS is_true
        FROM (SELECT l_returnflag, l_suppkey,
                     {_cms_digest_duck('l_suppkey')} AS dg
              FROM lineitem)
    )
    SELECT l_returnflag,
           count(*)::BIGINT AS n_rows,
           count(*) FILTER (WHERE pass_bloom)::BIGINT AS n_pass_bloom,
           count(*) FILTER (WHERE is_true)::BIGINT AS n_true_match,
           (count(*) FILTER (WHERE pass_bloom)
            - count(*) FILTER (WHERE is_true))::BIGINT AS n_false_pos,
           CASE WHEN count(*) - count(*) FILTER (WHERE is_true) = 0
                THEN 0::BIGINT
                ELSE ((count(*) FILTER (WHERE pass_bloom)
                       - count(*) FILTER (WHERE is_true)) * 1000000)
                     // (count(*) - count(*) FILTER (WHERE is_true))
           END AS fp_ppm
    FROM fact GROUP BY l_returnflag
"""

# Weighted Poisson sample + floor-HT estimator: inclusion and the
# estimator are pure integer arithmetic under the deterministic
# salted hash — fully replayable.
ORACLES["sample_weighted_poisson"] = f"""
    WITH rows_ AS (
        SELECT l_returnflag, l_quantity::BIGINT AS w,
               {_QS_PQ_DUCK} AS qv,
               ({_WPS_HV_DUCK} % {_WPS_D}) < l_quantity::BIGINT AS sampled
        FROM lineitem
    )
    SELECT l_returnflag,
           count(*)::BIGINT AS n_rows,
           count(*) FILTER (WHERE sampled)::BIGINT AS n_sampled,
           sum(qv)::BIGINT AS exact_q,
           coalesce(sum((qv * {_WPS_D}) // w) FILTER (WHERE sampled),
                    0)::BIGINT AS ht_q,
           (CASE WHEN sum(qv) = 0 THEN 0
                 ELSE ((coalesce(sum((qv * {_WPS_D}) // w)
                                 FILTER (WHERE sampled), 0)
                        - sum(qv)) * 1000000) // sum(qv)
            END)::BIGINT AS err_ppm
    FROM rows_ GROUP BY l_returnflag
"""

# Count-min rollup: month cells merge to year cells by addition —
# exact equality under deterministic hashes, fully replayable.
ORACLES["freq_cms_monthly_rollup"] = f"""
    WITH ords AS (
        SELECT year(o_orderdate)::BIGINT AS yr,
               month(o_orderdate)::BIGINT AS mo, o_custkey
        FROM orders
    ),
    exploded AS (
        {" UNION ALL ".join(
            f"SELECT yr, mo, {d} AS d, {_cms_cell_duck(d, 'dg')} AS cell"
            " FROM (SELECT yr, mo,"
            f" {_cms_digest_duck('o_custkey')} AS dg FROM ords)"
            for d in range(_CMS_D)
        )}
    ),
    monthly AS (
        SELECT yr, mo, d, cell, count(*)::BIGINT AS cnt
        FROM exploded GROUP BY yr, mo, d, cell
    ),
    merged AS (
        SELECT yr, d, cell, sum(cnt)::BIGINT AS cnt
        FROM monthly GROUP BY yr, d, cell
    ),
    direct AS (
        SELECT yr, d, cell, count(*)::BIGINT AS cnt
        FROM exploded GROUP BY yr, d, cell
    ),
    cellsok AS (
        SELECT coalesce(m.yr, dd.yr) AS yr,
               bool_and(m.cnt IS NOT NULL AND dd.cnt IS NOT NULL
                        AND m.cnt = dd.cnt) AS cells_ok
        FROM merged m FULL OUTER JOIN direct dd
          ON m.yr = dd.yr AND m.d = dd.d AND m.cell = dd.cell
        GROUP BY coalesce(m.yr, dd.yr)
    ),
    top AS (
        SELECT yr, o_custkey, n_exact FROM (
            SELECT yr, o_custkey, count(*)::BIGINT AS n_exact,
                   row_number() OVER (PARTITION BY yr
                       ORDER BY count(*) DESC, o_custkey ASC) AS rk
            FROM ords GROUP BY yr, o_custkey)
        WHERE rk <= {_CMS_ROLL_TOPK}
    ),
    probes AS (
        {" UNION ALL ".join(
            f"SELECT yr, o_custkey, n_exact, {d} AS d,"
            f" {_cms_cell_duck(d, 'dg')} AS cell"
            " FROM (SELECT yr, o_custkey, n_exact,"
            f" {_cms_digest_duck('o_custkey')} AS dg FROM top)"
            for d in range(_CMS_D)
        )}
    ),
    est AS (
        SELECT p.yr, p.o_custkey, p.n_exact,
               min(c.cnt)::BIGINT AS cms_estimate
        FROM probes p JOIN merged c
          ON c.yr = p.yr AND c.d = p.d AND c.cell = p.cell
        GROUP BY p.yr, p.o_custkey, p.n_exact
    )
    SELECT e.yr, e.o_custkey, e.n_exact, e.cms_estimate,
           ((e.cms_estimate - e.n_exact) * 1000000) // e.n_exact
               AS overcount_ppm,
           k.cells_ok
    FROM est e JOIN cellsok k ON k.yr = e.yr
"""

# Bloom rollup: month bit sets OR-merge to the year bit set (set
# union distributes over the hash) — bit-exact, fully replayable.
ORACLES["agg_bloom_monthly_rollup"] = f"""
    WITH ords AS (
        SELECT year(o_orderdate)::BIGINT AS yr,
               month(o_orderdate)::BIGINT AS mo, o_custkey
        FROM orders
    ),
    month_bits AS (
        SELECT DISTINCT yr, mo, p FROM (
            {" UNION ALL ".join(
                f"SELECT yr, mo, {_bloom_pos_duck(i, 'dg')} AS p"
                " FROM (SELECT yr, mo,"
                f" {_cms_digest_duck('o_custkey')} AS dg FROM ords)"
                for i in range(_BLOOM_K)
            )}
        )
    ),
    merged AS (
        SELECT DISTINCT yr, p FROM month_bits
    ),
    direct AS (
        SELECT DISTINCT yr, p FROM (
            {" UNION ALL ".join(
                f"SELECT yr, {_bloom_pos_duck(i, 'dg')} AS p"
                " FROM (SELECT yr,"
                f" {_cms_digest_duck('o_custkey')} AS dg FROM ords)"
                for i in range(_BLOOM_K)
            )}
        )
    ),
    bits AS (
        SELECT coalesce(m.yr, dd.yr) AS yr,
               count(*) FILTER (WHERE m.p IS NOT NULL)::BIGINT
                   AS n_bits_set,
               bool_and(m.p IS NOT NULL AND dd.p IS NOT NULL) AS bits_ok
        FROM merged m FULL OUTER JOIN direct dd
          ON m.yr = dd.yr AND m.p = dd.p
        GROUP BY coalesce(m.yr, dd.yr)
    ),
    cust_pos AS (
        {" UNION ALL ".join(
            f"SELECT c_custkey, {i} AS i, {_bloom_pos_duck(i, 'dg')} AS p"
            " FROM (SELECT c_custkey,"
            f" {_cms_digest_duck('c_custkey')} AS dg FROM customer)"
            for i in range(_BLOOM_K)
        )}
    ),
    probe AS (
        SELECT y.yr, cp.c_custkey,
               count(*) FILTER (WHERE mg.p IS NOT NULL)::BIGINT AS n_hit
        FROM cust_pos cp
        CROSS JOIN (SELECT DISTINCT yr FROM ords) y
        LEFT JOIN merged mg ON mg.yr = y.yr AND mg.p = cp.p
        GROUP BY y.yr, cp.c_custkey
    ),
    passed AS (
        SELECT yr, count(*)::BIGINT AS n_probed,
               count(*) FILTER (WHERE n_hit = {_BLOOM_K})::BIGINT
                   AS n_pass_bloom
        FROM probe GROUP BY yr
    ),
    members AS (
        SELECT yr, count(DISTINCT o_custkey)::BIGINT AS n_true_member
        FROM ords GROUP BY yr
    )
    SELECT b.yr, b.n_bits_set, p.n_probed, p.n_pass_bloom,
           m.n_true_member,
           (p.n_pass_bloom - m.n_true_member)::BIGINT AS n_false_pos,
           CASE WHEN p.n_probed - m.n_true_member = 0 THEN 0::BIGINT
                ELSE ((p.n_pass_bloom - m.n_true_member) * 1000000)
                     // (p.n_probed - m.n_true_member)
           END AS fp_ppm,
           b.bits_ok
    FROM bits b JOIN passed p ON p.yr = b.yr
    JOIN members m ON m.yr = b.yr
"""

# Bottom-k quantile sample: selection + integer arithmetic over
# deterministic hashes and the shared x10^4 money grid — exact replay.
ORACLES["quantile_bottomk_sample"] = f"""
    WITH li AS (
        SELECT l_returnflag, {_QS_PQ_DUCK} AS pq, {_QS_HV_DUCK} AS hv
        FROM lineitem
    ),
    vc AS (
        SELECT l_returnflag, pq, count(*)::BIGINT AS cnt
        FROM li GROUP BY 1, 2
    ),
    cum AS (
        SELECT l_returnflag, pq,
               sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY pq
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)::BIGINT AS cum
        FROM vc
    ),
    tpos AS (
        SELECT l_returnflag, sum(cnt)::BIGINT AS n_rows,
               ((sum(cnt)::BIGINT - 1) * 5) // 10 + 1 AS t50,
               ((sum(cnt)::BIGINT - 1) * 9) // 10 + 1 AS t90
        FROM vc GROUP BY 1
    ),
    exact AS (
        SELECT c.l_returnflag, t.n_rows,
               min(CASE WHEN cum >= t50 THEN pq END)::BIGINT
                   AS exact_median_q,
               min(CASE WHEN cum >= t90 THEN pq END)::BIGINT AS exact_p90_q
        FROM cum c JOIN tpos t ON c.l_returnflag = t.l_returnflag
        GROUP BY 1, 2
    ),
    samp AS (
        SELECT l_returnflag, pq FROM (
            SELECT l_returnflag, pq,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY hv, pq) AS rk
            FROM li)
        WHERE rk <= {_QS_K}
    ),
    sq AS (
        SELECT l_returnflag,
               vals[((k_actual - 1) * 5) // 10 + 1]::BIGINT
                   AS sample_median_q,
               vals[((k_actual - 1) * 9) // 10 + 1]::BIGINT AS sample_p90_q
        FROM (SELECT l_returnflag, list_sort(list(pq)) AS vals,
                     count(*)::BIGINT AS k_actual
              FROM samp GROUP BY 1)
    )
    SELECT e.l_returnflag, e.n_rows, e.exact_median_q, s.sample_median_q,
           CASE WHEN e.exact_median_q = 0 THEN 0::BIGINT
                ELSE ((s.sample_median_q - e.exact_median_q) * 1000000)
                     // e.exact_median_q END AS med_err_ppm,
           e.exact_p90_q, s.sample_p90_q,
           CASE WHEN e.exact_p90_q = 0 THEN 0::BIGINT
                ELSE ((s.sample_p90_q - e.exact_p90_q) * 1000000)
                     // e.exact_p90_q END AS p90_err_ppm
    FROM exact e JOIN sq s ON s.l_returnflag = e.l_returnflag
"""

# Fuzzy match: same levenshtein DP distance in both engines; argmin
# replayed as a (dist, key)-ordered row_number.
ORACLES["fuzzy_match_suppliers"] = """
    WITH sup AS (
        SELECT s_suppkey, s_name, s_nationkey FROM supplier
    ),
    dirty AS (
        SELECT s_suppkey AS d_key,
               substr(s_name, 1, 5)
                   || substr(s_name, 7, length(s_name)) AS d_name,
               s_nationkey AS d_nat
        FROM supplier WHERE s_suppkey % 10 = 0
    ),
    cand AS (
        SELECT d.d_key, d.d_name, s.s_suppkey,
               levenshtein(d.d_name, s.s_name) AS dist
        FROM dirty d JOIN sup s ON s.s_nationkey = d.d_nat
        WHERE levenshtein(d.d_name, s.s_name) <= 2
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY d_key
                      ORDER BY dist ASC, s_suppkey ASC) AS rk
        FROM cand
    )
    SELECT d_key, d_name,
           min(CASE WHEN rk = 1 THEN s_suppkey END)::BIGINT AS matched_key,
           min(dist)::BIGINT AS best_distance,
           count(*)::BIGINT AS n_candidates,
           min(CASE WHEN rk = 1 THEN s_suppkey END) = d_key AS correct
    FROM ranked GROUP BY d_key, d_name
"""

# CDC merge: identical precedence (delete > update), one exact IEEE
# add on updated totals, inserts appended at offset keys.
ORACLES["cdc_upsert_orders"] = """
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    changes AS (
        SELECT o_orderkey AS c_key,
               CASE WHEN o_orderkey % 75 = 0 THEN 'D' ELSE 'U' END AS op,
               'X' AS new_status,
               o_totalprice + 1.0 AS new_total
        FROM base WHERE o_orderkey % 50 = 0 OR o_orderkey % 75 = 0
    ),
    merged AS (
        SELECT b.o_orderkey,
               CASE WHEN c.op = 'U' THEN c.new_status
                    ELSE b.o_orderstatus END AS o_orderstatus,
               CASE WHEN c.op = 'U' THEN c.new_total
                    ELSE b.o_totalprice END AS o_totalprice
        FROM base b LEFT JOIN changes c ON b.o_orderkey = c.c_key
        WHERE c.op IS NULL OR c.op = 'U'
        UNION ALL
        SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM base), 'N',
               o_totalprice
        FROM base WHERE o_orderkey % 100 = 0
    )
    SELECT * FROM merged
    WHERE o_orderkey % 25 = 0
       OR o_orderkey > (SELECT max(o_orderkey) FROM base)
"""
