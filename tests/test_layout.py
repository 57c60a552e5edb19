"""Data-layout scale evidence: partition pruning on partitioned writes,
and bucketed joins that skip the shuffle entirely."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from decisions_kinesis_spark.plans.audit import audit_plan
from decisions_kinesis_spark.sources.tables import load_table


def test_partitioned_write_prunes_scan(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    tmp = tempfile.mkdtemp(prefix="dks-part-")
    try:
        ev.write.mode("overwrite").partitionBy("event_type").parquet(f"{tmp}/ev")
        back = spark.read.parquet(f"{tmp}/ev").filter(
            F.col("event_type") == "purchase"
        )
        plan = back._jdf.queryExecution().executedPlan().toString()
        # the partition filter prunes directories BEFORE the scan —
        # at 100 TB this is the difference between reading one
        # partition and reading everything
        assert "PartitionFilters" in plan and "purchase" in plan
        assert back.count() == ev.filter(F.col("event_type") == "purchase").count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dynamic_partition_pruning_on_star_join(spark, sf_dir):
    """DYNAMIC partition pruning — the star-schema runtime complement
    to static PartitionFilters: the fact side is partitioned on the
    join key, the dim side carries the selective filter, and Spark
    injects a runtime ``dynamicpruning`` subquery so only the
    partitions matching the FILTERED dim keys are read.  At 100 TB
    this is the difference between scanning the whole fact table and
    scanning the two partitions a dim predicate selects — without the
    fact query mentioning the predicate at all."""
    orders = load_table(spark, "orders", sf_dir)
    tmp = tempfile.mkdtemp(prefix="dks-dpp-")
    try:
        orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
            f"{tmp}/ord"
        )
        fact = spark.read.parquet(f"{tmp}/ord")
        dim = (
            orders.select("o_orderpriority")
            .distinct()
            .withColumn("tier", F.substring("o_orderpriority", 1, 1))
            .filter(F.col("tier") == "1")
        )
        joined = fact.join(dim, "o_orderpriority")
        optimized = (
            joined._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "dynamicpruning" in optimized
        want = orders.filter(
            F.substring("o_orderpriority", 1, 1) == "1"
        ).count()
        assert joined.count() == want > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_runtime_bloom_filter_injection_on_shuffle_join(spark, sf_dir):
    """Spark's OWN runtime Bloom-filter injection — the engine-native
    counterpart to the explicit ``join_bloom_prefilter`` query: on a
    shuffle join with a selective creation (dim) side, the optimizer
    inserts ``might_contain(scalar-subquery, xxhash64(key))`` on the
    fact scan so non-joining rows drop BEFORE the exchange.  The
    thresholds are production-scale (10 GB application side), so the
    test pins them down to engage the rewrite at test data sizes; at
    100 TB the defaults fire on their own.  Results must equal the
    uninjected join row-for-row."""
    keep = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    li = load_table(spark, "lineitem", sf_dir)
    sup = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal") > 5000
    )
    baseline = li.join(sup, li.l_suppkey == sup.s_suppkey).count()
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        joined = li.join(sup, li.l_suppkey == sup.s_suppkey)
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized
        assert joined.count() == baseline > 0
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Bucketing both fact tables on the join key co-locates them:
    the join plan contains NO Exchange — the shuffle happened once at
    write time, amortized over every future join."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("b_lineitem")
            .join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        a = audit_plan(joined)
        assert a.sortmerge_joins >= 1
        # the JOIN itself is shuffle-free: the only exchange allowed is
        # the one for the final small groupBy
        assert a.shuffles <= 1, a.plan
        expected = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
            .collect()
        )
        got = {r.o_orderpriority: r.n for r in joined.collect()}
        assert got == {r.o_orderpriority: r["count"] for r in expected}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_config_json_roundtrip():
    from decisions_kinesis_spark.config import (
        FilterVerb,
        KinesisQueueConfig,
        PayloadFilter,
    )

    cfg = KinesisQueueConfig(
        stream_name="s",
        payload_filters=[
            PayloadFilter("user.type", FilterVerb.EQUALS_CI, "premium"),
            PayloadFilter("amount", FilterVerb.GREATER_THAN, "50"),
        ],
        use_or=True,
        max_records_per_request=500,
    )
    back = KinesisQueueConfig.from_json(cfg.to_json())
    assert back == cfg


def test_checkpoint_reset_restarts_from_initial(spark, sf_dir):
    from decisions_kinesis_spark.config import KinesisQueueConfig
    from decisions_kinesis_spark.sources.pyds import register
    from decisions_kinesis_spark.streaming.runtime import consume, reset_checkpoint

    tmp = tempfile.mkdtemp(prefix="dks-reset-")
    try:
        register(spark)
        env = spark.read.format("dks_kinesis").load(f"{sf_dir}/events.parquet")
        env.write.format("dks_kinesis").option("numShards", "2").mode("append").save(
            f"{tmp}/src"
        )
        cfg = KinesisQueueConfig(stream_name="events")
        seen: list[tuple[str, str]] = []

        def handler(df, _):
            # shard-log sequence numbers are per-shard line indexes
            seen.extend(
                (r.shardId, r.sequenceNumber)
                for r in df.select("shardId", "sequenceNumber").collect()
            )

        q = consume(spark, f"{tmp}/src", cfg, handler, f"{tmp}/ckpt")
        q.processAllAvailable()
        q.stop()
        first = sorted(seen)
        assert len(set(first)) == len(first) == env.count()

        # C5: invalidate → full redelivery from the initial position
        assert reset_checkpoint(f"{tmp}/ckpt") is True
        seen.clear()
        q = consume(spark, f"{tmp}/src", cfg, handler, f"{tmp}/ckpt")
        q.processAllAvailable()
        q.stop()
        assert sorted(seen) == first
        assert reset_checkpoint(f"{tmp}/nonexistent") is False
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bucketed_tables_join_with_fewer_exchanges_same_result(
    spark, tmp_path, sf_dir
):
    """Bucketed-table co-located join — the layout technique that
    deletes the shuffle from every repeated join/agg on the bucket key
    at 100 TB: write orders and lineitem ``bucketBy(8, orderkey)``
    (+ sortBy), join the bucketed tables with a merge-join hint, and
    assert (a) the physical plan carries exactly TWO fewer Exchange
    operators than the identical plain-parquet join — the two join-key
    shuffles are gone; only the downstream group-by exchange remains —
    and (b) the results are identical row-for-row.  bucketBy requires
    the session catalog (in-memory here; metadata lives for the
    session, files under tmp_path), which is why this technique is
    test-demonstrated rather than registered as a driver query: a
    plain driver session in a foreign cwd would litter its metastore.
    """
    from pyspark.sql import functions as F

    from decisions_kinesis_spark.sources.tables import load_table

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_quantity"
    )
    for df, name, key in (
        (orders, "dks_test_orders_b", "o_orderkey"),
        (li, "dks_test_lineitem_b", "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    try:
        bo = spark.table("dks_test_orders_b")
        bl = spark.table("dks_test_lineitem_b")

        def agg(lhs, rhs):
            return (
                lhs.hint("merge")
                .join(rhs, lhs.l_orderkey == rhs.o_orderkey)
                .groupBy("o_orderpriority")
                .agg(
                    F.count("*").alias("n_items"),
                    F.sum(
                        F.col("l_quantity").cast("decimal(18,4)")
                    ).alias("sum_qty"),
                )
            )

        bucketed, plain = agg(bl, bo), agg(li, orders)
        n_ex = lambda df: df._jdf.queryExecution().executedPlan().toString().count("Exchange")  # noqa: E731
        assert n_ex(bucketed) == n_ex(plain) - 2, (
            n_ex(bucketed), n_ex(plain)
        )
        key = lambda r: r["o_orderpriority"]  # noqa: E731
        assert sorted(map(tuple, bucketed.collect()), key=lambda t: t[0]) \
            == sorted(map(tuple, plain.collect()), key=lambda t: t[0])
    finally:
        spark.sql("DROP TABLE IF EXISTS dks_test_orders_b")
        spark.sql("DROP TABLE IF EXISTS dks_test_lineitem_b")


def test_exchange_reuse_across_plan_branches(spark, sf_dir):
    """Exchange (shuffle) REUSE: when two branches of one plan need
    the same shuffled aggregate, Spark materializes the exchange once
    and wires a ``ReusedExchange`` into the second branch — at 100 TB
    a diamond-shaped pipeline (split an aggregate, recombine) pays ONE
    fact shuffle, not two.  Results must equal computing the branches
    independently."""
    orders = load_table(spark, "orders", sf_dir)
    agg = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("tot")
    )
    hi = agg.filter(F.col("tot") > 100_000)
    lo = agg.filter(F.col("tot") <= 100_000)
    both = hi.unionByName(lo)
    n = len(both.collect())  # collect() finalizes THIS Dataset's AQE plan
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert n == agg.count() > 0
