"""Streaming window + stateful operator tests: the streaming results
must equal the batch equivalents once all data is processed (the
fundamental Structured Streaming invariant)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from decisions_kinesis_spark.operators.windows_ext import window_tumbling_hourly
from decisions_kinesis_spark.sources.tables import load_table
from decisions_kinesis_spark.streaming.windows import (
    dedup_stream,
    purchase_error_correlation_stream,
    purchase_error_full_join_stream,
    purchase_error_left_join_stream,
    running_totals_stream,
    session_counts_stream,
    tumbling_counts_stream,
)


@pytest.fixture()
def event_stream(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="dks-sw-")
    ev = load_table(spark, "events", sf_dir)
    ev.repartition(4).write.parquet(f"{tmp}/src")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{tmp}/src")
    )
    yield ev, stream
    shutil.rmtree(tmp, ignore_errors=True)


def _run_to_memory(spark, df, name, mode):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_tumbling_equals_batch(spark, event_stream, sf_dir):
    ev, stream = event_stream
    out = _run_to_memory(
        spark, tumbling_counts_stream(stream), "tumb_out", "append"
    )
    batch = window_tumbling_hourly(spark, sf_dir).select(
        "w_start", "w_end", "event_type", "n"
    )
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch result exactly
    emitted = out.collect()
    assert len(emitted) > 0
    bmap = {
        (r.w_start, r.w_end, r.event_type): r.n for r in batch.collect()
    }
    for r in emitted:
        assert bmap[(r.w_start, r.w_end, r.event_type)] == r.n


def test_streaming_sessions_match_batch_sessionize(spark, event_stream):
    ev, stream = event_stream
    out = _run_to_memory(
        spark, session_counts_stream(stream), "sess_out", "append"
    )
    emitted = out.collect()
    assert len(emitted) > 0
    # total events across closed sessions never exceeds the dataset;
    # every session has >= 1 event and end = start + >= gap
    assert sum(r.n_events for r in emitted) <= ev.count()
    assert all(r.n_events >= 1 and r.sess_end > r.sess_start for r in emitted)


def test_stream_static_join_matches_batch(spark, event_stream, sf_dir):
    """Stream-static join: the streaming events stream enriched with the
    static customer dimension — per-batch broadcast-style enrichment,
    the standard dimension-join pattern for streams."""
    ev, stream = event_stream
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        stream.join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_memory(spark, enriched, "enrich_out", "complete")
    got = {r.c_mktsegment: r.n for r in out.collect()}
    batch = {
        r.c_mktsegment: r.n
        for r in ev.join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch


def test_stream_stream_join_matches_batch(spark, event_stream):
    """Stream-stream inner join with watermarks: the complete emitted
    pair set must equal the batch join once all data is processed."""
    ev, stream = event_stream
    out = _run_to_memory(
        spark, purchase_error_correlation_stream(stream), "ss_out", "append"
    )
    batch = purchase_error_correlation_stream(ev)  # same expr, batch mode
    got = {(r.purchase_id, r.error_id) for r in out.collect()}
    expected = {(r.purchase_id, r.error_id) for r in batch.collect()}
    assert got == expected
    assert len(expected) > 0


def test_stream_stream_left_join_matches_batch(spark, event_stream):
    """Left-outer stream-stream join: matched pairs must equal the batch
    join's matched pairs; emitted null (outer) rows must be a subset of
    the batch outer rows — outer rows whose join window the final
    watermark never passed are legitimately withheld."""
    ev, stream = event_stream
    out = _run_to_memory(
        spark, purchase_error_left_join_stream(stream), "ssl_out", "append"
    )
    batch = purchase_error_left_join_stream(ev)  # same expr, batch mode
    got_matched = {
        (r.purchase_id, r.error_id) for r in out.collect() if r.error_id is not None
    }
    got_outer = {r.purchase_id for r in out.collect() if r.error_id is None}
    exp_matched = {
        (r.purchase_id, r.error_id)
        for r in batch.collect()
        if r.error_id is not None
    }
    exp_outer = {r.purchase_id for r in batch.collect() if r.error_id is None}
    assert got_matched == exp_matched
    assert len(exp_matched) > 0
    assert got_outer <= exp_outer
    # the fixture spans far more than the watermark horizon, so the
    # overwhelming majority of outer rows must actually have emitted
    assert len(got_outer) > 0.9 * len(exp_outer)


def test_stream_stream_full_join_matches_batch(spark, event_stream):
    """Full-outer stream-stream join: matched pairs equal the batch
    dual; outer rows on BOTH sides are watermark-consistent subsets
    covering the vast majority of the batch outers."""
    ev, stream = event_stream
    out = _run_to_memory(
        spark, purchase_error_full_join_stream(stream), "ssf_out", "append"
    )
    batch = purchase_error_full_join_stream(ev).collect()
    got = out.collect()
    got_matched = {
        (r.purchase_id, r.error_id)
        for r in got
        if r.purchase_id is not None and r.error_id is not None
    }
    exp_matched = {
        (r.purchase_id, r.error_id)
        for r in batch
        if r.purchase_id is not None and r.error_id is not None
    }
    assert got_matched == exp_matched and len(exp_matched) > 0
    got_p_outer = {r.purchase_id for r in got if r.error_id is None}
    exp_p_outer = {r.purchase_id for r in batch if r.error_id is None}
    got_e_outer = {r.error_id for r in got if r.purchase_id is None}
    exp_e_outer = {r.error_id for r in batch if r.purchase_id is None}
    assert got_p_outer <= exp_p_outer and got_e_outer <= exp_e_outer
    assert len(got_p_outer) > 0.9 * len(exp_p_outer)
    assert len(got_e_outer) > 0.9 * len(exp_e_outer)


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark: a stream carrying every event
    twice (same micro-batch redelivery) emits each event_id exactly
    once, equal to the batch distinct."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="dks-dedup-")
    ev = load_table(spark, "events", sf_dir)
    doubled = ev.unionByName(ev)
    doubled.repartition(4).write.parquet(f"{tmp}/src")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{tmp}/src")
    )
    out = _run_to_memory(spark, dedup_stream(stream), "dedup_out", "append")
    got = [r.event_id for r in out.collect()]
    assert len(got) == len(set(got))  # no event emitted twice
    assert set(got) == {r.event_id for r in ev.collect()}
    shutil.rmtree(tmp, ignore_errors=True)


def test_stream_static_aggregated_enrichment_matches_batch(spark, event_stream, sf_dir):
    """Stream-static join against an AGGREGATED static side (latest
    order per user): streamed result equals the batch dual."""
    from decisions_kinesis_spark.streaming.windows import enrich_with_latest_order

    ev, stream = event_stream
    orders = load_table(spark, "orders", sf_dir)
    out = _run_to_memory(
        spark, enrich_with_latest_order(stream, orders), "enr_latest", "append"
    )
    got = {(r.event_id, r.last_orderkey) for r in out.collect()}
    expected = {
        (r.event_id, r.last_orderkey)
        for r in enrich_with_latest_order(ev, orders).collect()
    }
    assert got == expected
    assert len(got) == ev.count()


def test_late_data_dropped_after_watermark(spark):
    """Watermark contract: an event older than (max event time − 10 min)
    arriving in a later micro-batch is DROPPED — its already-closed
    window is not re-opened and its count is not emitted."""
    import tempfile
    from datetime import datetime

    tmp = tempfile.mkdtemp(prefix="dks-late-")
    src = f"{tmp}/src"
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    batch1 = [
        (1, datetime(2024, 1, 1, 10, 30), 1, "purchase", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 12, 0), 1, "purchase", 1.0, "{}"),
    ]
    late = [(3, datetime(2024, 1, 1, 10, 45), 1, "purchase", 1.0, "{}")]
    df1 = spark.createDataFrame(batch1, schema)
    df1.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(df1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        tumbling_counts_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    q.processAllAvailable()  # watermark advances to 11:50
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()  # late row (10:45 < 11:50) must be dropped
    q.stop()
    rows = spark.sql("SELECT * FROM late_out").collect()
    # exactly the closed hour-10 window, with the ON-TIME count only
    assert [(r.w_start, r.w_end, r.event_type, r.n) for r in rows] == [
        (
            datetime(2024, 1, 1, 10, 0),
            datetime(2024, 1, 1, 11, 0),
            "purchase",
            1,
        )
    ]
    shutil.rmtree(tmp, ignore_errors=True)


def test_windowed_state_survives_restart(spark, sf_dir):
    """C4 analog for stateful streaming: a windowed aggregation stopped
    and restarted from the same checkpoint must restore its state —
    counts reflect every event exactly once, never doubled."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="dks-restart-")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    ev = load_table(spark, "events", sf_dir)
    half1, half2 = ev.filter(F.col("event_id") % 2 == 0), ev.filter(
        F.col("event_id") % 2 == 1
    )
    half1.coalesce(1).write.mode("append").parquet(src)

    def run_until_drained():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        agg = (
            stream.groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .format("memory")
            .queryName("restart_out")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_until_drained()  # processes half1, commits state
    half2.coalesce(1).write.mode("append").parquet(src)
    run_until_drained()  # restart: must resume, not re-count half1
    got = {
        r.event_type: r.n for r in spark.sql("SELECT * FROM restart_out").collect()
    }
    expected = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected
    shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_session_windows_event_time_timeout(spark, event_stream, sf_dir):
    """applyInPandasWithState + EventTimeTimeout session windows: every
    emitted session must EXACTLY equal a session of the batch
    window_session_bounds dual (same 5-min gap, built-in
    session_window), and the vast majority of batch sessions must have
    emitted — only sessions the final watermark never passed may be
    withheld."""
    from decisions_kinesis_spark.operators.windows_ext import window_session_bounds
    from decisions_kinesis_spark.streaming.windows import (
        session_windows_stateful_stream,
    )

    ev, stream = event_stream
    out = _run_to_memory(
        spark, session_windows_stateful_stream(stream), "sessst_out", "append"
    )
    got = out.collect()
    assert len(got) > 0
    batch = {
        (r.user_id, r.sess_start, r.sess_end): r.n_events
        for r in window_session_bounds(spark, sf_dir).collect()
    }
    for r in got:
        assert batch[(r.user_id, r.sess_start, r.sess_end)] == r.n_events
    # no session emitted twice
    keys = [(r.user_id, r.sess_start, r.sess_end) for r in got]
    assert len(keys) == len(set(keys))
    # the fixture spans far beyond the watermark horizon: almost every
    # batch session must actually have closed and emitted
    assert len(got) > 0.9 * len(batch)


def test_stateful_running_totals(spark, event_stream):
    ev, stream = event_stream
    out = _run_to_memory(
        spark, running_totals_stream(stream), "tot_out", "update"
    )
    # last update per user must equal the batch aggregate
    final = (
        out.groupBy("user_id").agg(F.max("n").alias("n")).collect()
    )
    batch = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert len(final) == len(batch)
    for r in final:
        assert batch[r.user_id] == r.n
