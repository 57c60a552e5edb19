"""Python DataSource tests (sources/pyds.py — Spark 4 DataSource API).

Covers: batch envelope scan vs a pure-DataFrame adapter, Spark 4.1
filter pushdown (unit + end-to-end), the transactional shard-log
writer (P2 analog: staging → MD5-ring routing + sequence assignment at
commit; abort leaves no partial publish), the streaming reader's
offset lifecycle (TRIM_HORIZON/LATEST starting positions — C6,
checkpoint restart without redelivery — C4, per-poll rate cap — the
MaxRecordsPerRequest analog), and idempotent epoch commit in the
streaming writer.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from datetime import datetime, timezone

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, IsNotNull

from decisions_kinesis_spark.sources.pyds import (
    KinesisEnvelopeReader,
    KinesisShardLogStreamReader,
    KinesisShardLogStreamWriter,
    _slice_batches,
    register,
    route_md5,
    shard_file,
)
from decisions_kinesis_spark.sources.tables import load_table

N_SHARDS = 4


@pytest.fixture(autouse=True)
def _registered(spark):
    register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def _ds_read(spark, path, **opts):
    reader = spark.read.format("dks_kinesis").option("path", path)
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    return reader.load()


def _expected_envelope(spark, sf_dir):
    """The adapter mapping recomputed with plain DataFrame ops."""
    ev = load_table(spark, "events", sf_dir)
    return ev.select(
        F.encode("props", "UTF-8").alias("data"),
        F.col("user_id").cast("string").alias("partitionKey"),
        F.col("event_id").cast("string").alias("sequenceNumber"),
        F.col("ts").alias("approximateArrivalTimestamp"),
        F.lit("events").alias("streamName"),
        F.format_string(
            "shardId-%012d", F.pmod(F.col("user_id"), F.lit(N_SHARDS))
        ).alias("shardId"),
        F.lit(None).cast("string").alias("encryptionType"),
    )


def test_batch_events_mode_matches_adapter(spark, sf_dir):
    got = _ds_read(spark, f"{sf_dir}/events.parquet", numShards=N_SHARDS)
    want = _expected_envelope(spark, sf_dir)
    # nullability differs (lit() columns are non-null); names+types must match
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ]
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_push_filters_unit():
    reader = KinesisEnvelopeReader(
        {"path": "/tmp/x.parquet", "numshards": "4"}
    )
    eq_shard = EqualTo(("shardId",), "shardId-000000000003")
    eq_pk = EqualTo(("partitionKey",), "13")
    notnull = IsNotNull(("shardId",))
    bad = EqualTo(("shardId",), "not-a-shard")
    residual = list(reader.pushFilters([eq_shard, eq_pk, notnull, bad]))
    assert reader.shard_eq == 3
    assert reader.pk_eq == "13"
    # unsupported / unparseable filters must come back by reference
    assert residual == [notnull, bad]


def test_pushdown_end_to_end_matches_post_filter(spark, sf_dir):
    path = f"{sf_dir}/events.parquet"
    target = "shardId-%012d" % 2
    pushed = _ds_read(spark, path, numShards=N_SHARDS).filter(
        F.col("shardId") == target
    )
    full = _ds_read(spark, path, numShards=N_SHARDS)
    want = [
        r["sequenceNumber"]
        for r in full.collect()
        if r["shardId"] == target
    ]
    got = [r["sequenceNumber"] for r in pushed.collect()]
    assert sorted(got) == sorted(want)
    assert len(got) > 0
    # the equality itself is consumed by the source: no `= target`
    # comparison survives in the physical plan
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert target not in plan


def _write_logs(env_df, log_dir, num_shards=N_SHARDS, mode="append"):
    (
        env_df.write.format("dks_kinesis")
        .option("path", log_dir)
        .option("numShards", str(num_shards))
        .mode(mode)
        .save()
    )


@pytest.fixture()
def log_dir():
    tmp = tempfile.mkdtemp(prefix="dks-pyds-")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _slice_rows(path, start, end, stream_name="s"):
    return [
        tuple(r.values())
        for batch in _slice_batches(path, start, end, stream_name)
        for r in batch.to_pylist()
    ]


def test_shardlog_slice_rows(log_dir):
    """The Arrow slice reader yields exactly lines [start, end) of the
    log, sequence number = zero-based line index.  Naive stamps read as
    UTC, offset stamps as their instant, a missing ``ts`` or ``pk`` as
    NULL, and non-ASCII ``data`` as its UTF-8 bytes."""
    recs = [
        {"data": json.dumps({"i": i, "s": f"é{i}"}, ensure_ascii=False),
         "pk": str(i % 3), "ts": f"2024-01-01T00:00:{i:02d}"}
        for i in range(12)
    ]
    recs[2]["ts"] = "2024-01-01T01:00:02+00:00"
    recs[4]["ts"] = "2024-01-01T03:00:04.250000+02:00"
    del recs[6]["ts"]
    recs[7]["pk"] = None
    recs[9]["data"] = "naïve ✓ \u6f22\u5b57 \U0001f600"
    path = os.path.join(log_dir, "shardId-000000000001.jsonl")
    with open(path, "w", encoding="utf-8") as f:
        for rec in recs:
            f.write(json.dumps(rec, ensure_ascii=False) + "\n")

    def instant(ts):  # the instant as naive UTC, what Spark reads
        if ts is None:
            return None
        t = datetime.fromisoformat(ts)
        if t.tzinfo is None:
            return t
        return t.astimezone(timezone.utc).replace(tzinfo=None)

    want = [
        (
            rec["data"].encode("utf-8"),
            rec["pk"],
            "%020d" % i,
            instant(rec.get("ts")),
            "s",
            "shardId-000000000001",
            None,
        )
        for i, rec in enumerate(recs)
    ]
    assert want[4][3] == datetime(2024, 1, 1, 1, 0, 4, 250000)
    for start, end in [(0, None), (0, 5), (5, 9), (9, None), (11, 12), (12, None), (3, 3)]:
        assert _slice_rows(path, start, end) == want[start:end]


def test_shardlog_slice_chunk_and_batch_boundaries(log_dir, monkeypatch):
    """Slices read the same whatever the read chunk and batch cap: lines
    that straddle chunks, batches of at most the cap, and an
    unterminated last line (read only when reading to EOF)."""
    from decisions_kinesis_spark.sources import pyds

    path = os.path.join(log_dir, "shardId-000000000003.jsonl")
    with open(path, "w", encoding="utf-8") as f:
        for i in range(10):
            f.write(json.dumps({"pk": str(i), "data": "x" * i}) + "\n")
        f.write('{"pk": "tail", "data": "no newline"}')
    cases = [(0, None), (0, 10), (3, 7), (9, 10), (10, None), (4, 4)]
    want = {c: _slice_rows(path, *c) for c in cases}
    assert [r[1] for r in want[(0, None)]] == [str(i) for i in range(10)] + ["tail"]
    assert len(want[(0, 10)]) == 10 and len(want[(3, 7)]) == 4
    for read_bytes, cap in [(1, 1), (7, 3), (40, 2), (64, 16384)]:
        monkeypatch.setattr(pyds, "_READ_BYTES", read_bytes)
        monkeypatch.setattr(pyds, "_BATCH_RECORDS", cap)
        for c in cases:
            batches = list(_slice_batches(path, *c, "s"))
            assert all(b.num_rows <= cap for b in batches)
            assert [tuple(r.values()) for b in batches for r in b.to_pylist()] == want[c]


@pytest.mark.parametrize(
    "bad",
    [{"pk": "1"}, {"pk": "1", "data": None}, ["not", "an", "object"]],
    ids=["missing-data", "null-data", "not-an-object"],
)
def test_shardlog_slice_bad_line_raises(log_dir, bad):
    """A line without non-null ``data``, or one that is not a JSON
    object, fails the read and names the shard file."""
    path = os.path.join(log_dir, "shardId-000000000002.jsonl")
    with open(path, "w", encoding="utf-8") as f:
        f.write(json.dumps({"pk": "0", "data": "ok"}) + "\n")
        f.write(json.dumps(bad) + "\n")
    assert len(_slice_rows(path, 0, 1)) == 1
    with pytest.raises(ValueError, match="shardId-000000000002"):
        _slice_rows(path, 0, None)


def test_stream_partitions_pack_whole_slices(log_dir):
    """``partitions(start, end)`` packs whole per-shard slices, in shard
    order, into partitions of at least 16384 records; a slice that size
    or larger goes alone, empty slices are dropped, none is split."""
    reader = KinesisShardLogStreamReader({"path": log_dir})
    stems = ["shardId-%012d" % i for i in range(8)]

    def plan(start, end):
        parts = reader.partitions(start, end)
        got = [
            [(os.path.basename(p)[: -len(".jsonl")], lo, hi) for p, lo, hi in part.slices]
            for part in parts
        ]
        # no slice is split, lost or repeated: the slices are exactly
        # the non-empty [start, end) ranges
        flat = [s for part in got for s in part]
        want = [
            (s, start.get(s, 0), end[s]) for s in sorted(end) if end[s] > start.get(s, 0)
        ]
        assert sorted(flat) == want
        return got

    tail = plan({s: 1000 for s in stems}, {s: 1400 for s in stems})
    assert len(tail) == 1 and [s for s, _, _ in tail[0]] == stems

    backlog = plan({}, {s: 12_500 for s in stems})
    assert [[s for s, _, _ in part] for part in backlog] == [
        stems[i : i + 2] for i in range(0, 8, 2)
    ]
    assert [sum(hi - lo for _, lo, hi in part) for part in backlog] == [25_000] * 4

    mixed = plan(
        {stems[1]: 300, stems[2]: 700},
        {stems[0]: 400, stems[1]: 300, stems[2]: 50_700, stems[3]: 400},
    )
    assert [(stems[2], 700, 50_700)] in mixed  # a large slice alone
    assert [(stems[0], 0, 400), (stems[3], 0, 400)] in mixed
    assert len(mixed) == 2  # the empty stems[1] slice is dropped


def test_stream_tail_batch_is_one_partition(spark, log_dir):
    """End to end: a micro-batch of a few hundred records on each of 8
    shards runs as ONE partition, not one per shard."""
    for i in range(8):
        with open(os.path.join(log_dir, shard_file(i)), "w", encoding="utf-8") as f:
            for j in range(300):
                f.write(json.dumps({"pk": f"{i}-{j}", "data": f"d{j}"}) + "\n")
    seen: list[tuple[int, int]] = []

    def handle(df, epoch_id):
        seen.append((df.rdd.getNumPartitions(), df.count()))

    q = (
        spark.readStream.format("dks_kinesis")
        .option("path", log_dir)
        .load()
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(log_dir, "_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    assert seen == [(1, 2400)]


def test_writer_roundtrip(spark, sf_dir, log_dir):
    env = _expected_envelope(spark, sf_dir)
    _write_logs(env, log_dir)
    assert not os.path.isdir(os.path.join(log_dir, "_staging"))
    back = _ds_read(spark, log_dir)
    src = {
        (r["partitionKey"], bytes(r["data"]).decode("utf-8"))
        for r in env.collect()
    }
    got_rows = back.collect()
    got = {
        (r["partitionKey"], bytes(r["data"]).decode("utf-8"))
        for r in got_rows
    }
    assert got == src
    assert len(got_rows) == env.count()
    # routing is the MD5 ring; sequence numbers are per-shard contiguous
    for r in got_rows:
        assert r["shardId"] == "shardId-%012d" % route_md5(
            r["partitionKey"], N_SHARDS
        )
    by_shard: dict[str, list[int]] = {}
    for r in got_rows:
        by_shard.setdefault(r["shardId"], []).append(int(r["sequenceNumber"]))
    for seqs in by_shard.values():
        assert sorted(seqs) == list(range(len(seqs)))
    # timestamps survive the round trip
    ts_src = {r["approximateArrivalTimestamp"] for r in env.collect()}
    ts_got = {r["approximateArrivalTimestamp"] for r in got_rows}
    assert ts_got == ts_src
    # written in UTC with an explicit offset, read back as the same
    # instants (collect() gives naive datetimes in the local zone)
    stamps = [
        json.loads(line)["ts"]
        for f in os.listdir(log_dir)
        if f.endswith(".jsonl")
        for line in open(os.path.join(log_dir, f), encoding="utf-8")
    ]
    assert stamps and all(t.endswith("+00:00") for t in stamps)
    assert {
        datetime.fromisoformat(t).astimezone().replace(tzinfo=None) for t in stamps
    } == ts_src


def test_writer_lines_match_json_dumps():
    """The Arrow writer's lines are exactly what ``json.dumps`` writes for
    ``{"pk", "data", "ts"}`` (ensure_ascii=False, ``ts`` in UTC with
    ``+00:00``), and each record goes to its MD5-ring shard."""
    from decisions_kinesis_spark.sources.pyds import _log_lines

    data = ['{"k": "50"}', 'quote " and back\\slash', "é ✓ \u2028 \U0001f600", "", "x"]
    pks = ["7", None, "7", "ü", "a\"b"]
    stamps = [0, 1_700_000_000_123_456, None, 1_500_000, 86_400_000_000]
    for ctl in (False, True):  # control characters take the json-module path
        d = data + (["tab\tnl\nnul\x00"] if ctl else ["plain"])
        k = pks + ["k"]
        t = stamps + [None]
        batch = pa.record_batch(
            {
                "data": pa.array([x.encode("utf-8") for x in d], pa.binary()),
                "partitionKey": pa.array(k, pa.string()),
                "approximateArrivalTimestamp": pa.array(t, pa.timestamp("us", "UTC")),
            }
        )
        lines, shards = _log_lines(batch, N_SHARDS)
        want = [
            json.dumps(
                {
                    "pk": pk or "",
                    "data": x,
                    "ts": None if us is None else datetime.fromtimestamp(
                        us / 1e6, timezone.utc
                    ).strftime("%Y-%m-%dT%H:%M:%S.%f+00:00"),
                },
                ensure_ascii=False,
            )
            + "\n"
            for x, pk, us in zip(d, k, t)
        ]
        assert lines.to_pylist() == want
        assert shards.tolist() == [route_md5(pk or "", N_SHARDS) for pk in k]


def test_writer_overwrite_truncates(spark, sf_dir, log_dir):
    env = _expected_envelope(spark, sf_dir).limit(50)
    _write_logs(env, log_dir)
    _write_logs(env, log_dir)  # append: doubles
    assert _ds_read(spark, log_dir).count() == 100
    _write_logs(env, log_dir, mode="overwrite")
    assert _ds_read(spark, log_dir).count() == 50


def test_shardlog_pushdown_prunes_files(spark, sf_dir, log_dir):
    env = _expected_envelope(spark, sf_dir).limit(200)
    _write_logs(env, log_dir)
    present = sorted(
        f for f in os.listdir(log_dir) if f.endswith(".jsonl")
    )
    assert len(present) > 1
    target_stem = present[0][: -len(".jsonl")]
    got = (
        _ds_read(spark, log_dir)
        .filter(F.col("shardId") == target_stem)
        .count()
    )
    with open(os.path.join(log_dir, present[0])) as f:
        want = sum(1 for _ in f)
    assert got == want > 0


def _collect_stream(spark, log_dir, ckpt, batches, **opts):
    reader = spark.readStream.format("dks_kinesis").option("path", log_dir)
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    stream = reader.load()

    def handle(df, epoch_id):
        batches.append(
            [
                (r["shardId"], int(r["sequenceNumber"]))
                for r in df.select("shardId", "sequenceNumber").collect()
            ]
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)


def test_stream_trim_horizon_then_restart_no_redelivery(spark, sf_dir, log_dir):
    env = _expected_envelope(spark, sf_dir).limit(120)
    _write_logs(env, log_dir)
    ckpt = os.path.join(log_dir, "_ckpt")
    batches: list[list[tuple[str, int]]] = []
    _collect_stream(spark, log_dir, ckpt, batches)
    first = [x for b in batches for x in b]
    assert len(first) == 120
    assert len(set(first)) == 120  # no duplicates
    # append 30 more, restart from the same checkpoint: only the new
    # records are delivered (C4 — no redelivery of checkpointed seqs)
    more = _expected_envelope(spark, sf_dir).limit(150).subtract(env)
    n_more = more.count()
    assert n_more > 0
    _write_logs(more, log_dir)
    batches2: list[list[tuple[str, int]]] = []
    _collect_stream(spark, log_dir, ckpt, batches2)
    second = [x for b in batches2 for x in b]
    assert len(second) == n_more
    assert set(second).isdisjoint(set(first))
    # per-shard sequence order within the whole run is monotone
    for run in (first, second):
        by_shard: dict[str, list[int]] = {}
        for shard, seq in run:
            by_shard.setdefault(shard, []).append(seq)
        for seqs in by_shard.values():
            assert seqs == sorted(seqs)


def test_stream_latest_skips_backlog(spark, sf_dir, log_dir):
    env = _expected_envelope(spark, sf_dir).limit(80)
    _write_logs(env, log_dir)
    ckpt = os.path.join(log_dir, "_ckpt")
    batches: list[list[tuple[str, int]]] = []
    _collect_stream(
        spark, log_dir, ckpt, batches, startingposition="LATEST"
    )
    assert [x for b in batches for x in b] == []
    more = _expected_envelope(spark, sf_dir).limit(100).subtract(env)
    _write_logs(more, log_dir)
    batches2: list[list[tuple[str, int]]] = []
    _collect_stream(
        spark, log_dir, ckpt, batches2, startingposition="LATEST"
    )
    assert len([x for b in batches2 for x in b]) == more.count()


def test_stream_rate_cap_per_shard(spark, sf_dir, log_dir):
    """The cap is a steady-state rate limit (the first poll of a
    reader instance must return the true latest — a capped first poll
    could regress the offset WAL after a restart; see
    KinesisShardLogStreamReader.__init__).  So: drain a small backlog,
    append a 60-record burst to one shard WHILE the query runs, and
    assert the burst pages through in ≤7-record micro-batches."""
    import time

    env = _expected_envelope(spark, sf_dir).limit(10)
    _write_logs(env, log_dir)
    ckpt = os.path.join(log_dir, "_ckpt")
    batches: list[list[tuple[str, int]]] = []

    reader = (
        spark.readStream.format("dks_kinesis")
        .option("path", log_dir)
        .option("maxFetchRecordsPerShard", "7")
    )

    def handle(df, epoch_id):
        batches.append(
            [
                (r["shardId"], int(r["sequenceNumber"]))
                for r in df.select("shardId", "sequenceNumber").collect()
            ]
        )

    q = (
        reader.load()
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while sum(len(b) for b in batches) < 10 and time.time() < deadline:
            time.sleep(0.1)
        n_batches_before_burst = len(batches)
        # burst: 60 records appended to one shard file mid-stream
        target = sorted(
            f for f in os.listdir(log_dir) if f.endswith(".jsonl")
        )[0]
        with open(os.path.join(log_dir, target), "a", encoding="utf-8") as f:
            f.write(
                "".join(
                    json.dumps({"pk": "burst", "data": f"b-{i}"}) + "\n"
                    for i in range(60)
                )
            )
        while sum(len(b) for b in batches) < 70 and time.time() < deadline:
            time.sleep(0.1)
    finally:
        q.stop()
        q.awaitTermination(30)
    flat = [x for b in batches for x in b]
    assert len(flat) == 70  # nothing lost
    assert len(set(flat)) == 70  # nothing duplicated
    # the burst paged through under the per-poll per-shard cap
    burst_batches = [b for b in batches[n_batches_before_burst:] if b]
    assert len(burst_batches) >= 60 // 7  # ≥9 capped polls
    for b in burst_batches:
        per_shard: dict[str, int] = {}
        for shard, _seq in b:
            per_shard[shard] = per_shard.get(shard, 0) + 1
        assert all(n <= 7 for n in per_shard.values())


def _records(data, keys):
    """One writer batch: ``data`` payloads with ``str(key)`` partition
    keys, the Arrow form Spark hands a DataSourceArrowWriter."""
    return pa.record_batch(
        {
            "data": pa.array(data, pa.string()),
            "partitionKey": pa.array([str(k) for k in keys], pa.string()),
        }
    )


def test_stream_writer_epoch_idempotent(log_dir):
    writer = KinesisShardLogStreamWriter(
        {"path": log_dir, "numshards": str(N_SHARDS)}
    )

    def stage(n):
        return writer.write(
            iter([_records([f"payload-{i}" for i in range(n)], range(n))])
        )

    msg = stage(10)
    writer.commit([msg], batchId=7)
    total = lambda: sum(  # noqa: E731
        sum(1 for _ in open(os.path.join(log_dir, f)))
        for f in os.listdir(log_dir)
        if f.endswith(".jsonl")
    )
    assert total() == 10
    # replayed epoch (same batchId, fresh staging): no double append
    msg2 = stage(10)
    writer.commit([msg2], batchId=7)
    assert total() == 10
    assert not os.listdir(os.path.join(log_dir, "_staging")) if os.path.isdir(
        os.path.join(log_dir, "_staging")
    ) else True
    # a new epoch appends
    msg3 = stage(5)
    writer.commit([msg3], batchId=8)
    assert total() == 15


def test_writer_abort_leaves_no_partial(log_dir):
    writer = KinesisShardLogStreamWriter(
        {"path": log_dir, "numshards": str(N_SHARDS)}
    )
    msg = writer.write(iter([_records(["x"], [1])]))
    writer.abort([msg], batchId=1)
    assert not any(f.endswith(".jsonl") for f in os.listdir(log_dir))


def test_stream_pipeline_equals_batch_through_native_source(
    spark, sf_dir, log_dir
):
    """Equivalence proof #22: the reference's complete consume pipeline —
    S1 source → D1 UTF-8 decode → F1/F2 payload filter (the flagship
    ``k > '50'`` lexicographic verb) → envelope projection — run through
    the NATIVE Spark source (``readStream.format("dks_kinesis")``),
    across a mid-stream checkpoint restart, equals the batch
    ``read.format("dks_kinesis")`` scan through the identical
    transformations.  The filter is stateless, so the proof's content is
    the source contract: exactly-once, loss-free delivery across the
    restart, with identical envelope values on both faces."""
    from decisions_kinesis_spark.config import FilterVerb, PayloadFilter
    from decisions_kinesis_spark.functions.envelope import decode_utf8
    from decisions_kinesis_spark.functions.filters import (
        apply_payload_filters,
    )

    filters = [PayloadFilter("k", FilterVerb.GREATER_THAN, "50")]

    def consume(df):
        decoded = df.withColumn("messageText", decode_utf8(F.col("data")))
        kept = apply_payload_filters(decoded, "messageText", filters)
        return kept.select(
            "partitionKey", "sequenceNumber", "shardId", "messageText"
        )

    env = _expected_envelope(spark, sf_dir)
    phase1 = env.limit(200)
    phase2 = env.limit(300).subtract(phase1)
    assert phase2.count() > 0

    got: list[tuple] = []

    def run_stream():
        def handle(df, epoch_id):
            got.extend(tuple(r) for r in consume(df).collect())

        q = (
            spark.readStream.format("dks_kinesis")
            .option("path", log_dir)
            .load()
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", os.path.join(log_dir, "_ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    _write_logs(phase1, log_dir)
    run_stream()
    _write_logs(phase2, log_dir)  # records arriving while consumer is down
    run_stream()  # restart from the checkpoint

    want = sorted(
        tuple(r) for r in consume(_ds_read(spark, log_dir)).collect()
    )
    assert sorted(got) == want
    assert len(want) > 0


def test_shard_file_and_routing_stability():
    assert shard_file(3) == "shardId-000000000003.jsonl"
    # MD5-ring routing is a pure function of the key
    assert route_md5("13", 8) == route_md5("13", 8)
    assert 0 <= route_md5("anything", 5) < 5


def test_route_md5_is_contiguous_range_routing():
    """An evenly split Kinesis stream assigns each shard a CONTIGUOUS
    128-bit hash-key range (shard = position // (2^128/num_shards)) —
    NOT position mod num_shards.  The range form places each key on
    the same shard the real service would."""
    import hashlib

    for key in ("13", "anything", "user-42", ""):
        pos = int.from_bytes(
            hashlib.md5(key.encode("utf-8")).digest(), "big"
        )
        for n in (1, 2, 8, 16):  # 2^128 divisible: both range forms equal
            assert route_md5(key, n) == pos // (2**128 // n)
        for n in (3, 5, 7):  # general count: exact even-split semantics
            assert route_md5(key, n) == (pos * n) >> 128
            assert 0 <= route_md5(key, n) < n
    # the mod stand-in demonstrably disagrees for some key (otherwise
    # this test pins nothing)
    assert any(
        route_md5(k, 8)
        != int.from_bytes(hashlib.md5(k.encode()).digest(), "big") % 8
        for k in (str(i) for i in range(64))
    )


def test_pushdown_yields_back_non_canonical_shard_literal(spark, sf_dir):
    """A shardId equality with a literal that does NOT round-trip
    through 'shardId-%012d' ('shardId-3', 'foo-7') matches no emitted
    row.  The source must NOT consume it (Spark never re-applies a
    consumed filter — consuming 'shardId-3' as shard_eq=3 silently
    returned shard-3's rows against the user's WHERE).  Unit level:
    the filter is yielded back; end-to-end: the scan returns 0 rows."""
    for lit in ("shardId-3", "foo-7", "shardId-0000000000003"):
        r = KinesisEnvelopeReader(
            {"path": f"{sf_dir}/events.parquet", "numshards": "8"}
        )
        kept = list(r.pushFilters([EqualTo(("shardId",), lit)]))
        assert len(kept) == 1 and r.shard_eq is None, lit
        got = (
            _ds_read(spark, f"{sf_dir}/events.parquet", numShards=8)
            .filter(F.col("shardId") == lit)
            .count()
        )
        assert got == 0, lit
    # the canonical literal is still consumed (pushdown keeps working)
    r = KinesisEnvelopeReader(
        {"path": f"{sf_dir}/events.parquet", "numshards": "8"}
    )
    kept = list(r.pushFilters([EqualTo(("shardId",), "shardId-%012d" % 3)]))
    assert kept == [] and r.shard_eq == 3


def test_events_scan_null_user_id_routes_nowhere(spark, log_dir):
    """NULL partition keys route NOWHERE: a null user_id row survives an
    unfiltered scan with NULL partitionKey AND NULL shardId (the old
    path crashed on `int(NaN)`), and any pushed shard equality excludes
    it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(log_dir, "ev_nulls.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3, 4], pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000 + i for i in range(4)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([7, None, 11, None], pa.int64()),
                "props": pa.array(['{"k":"1"}'] * 4, pa.string()),
            }
        ),
        path,
    )
    rows = {r["sequenceNumber"]: r for r in _ds_read(
        spark, path, numShards=4
    ).collect()}
    assert len(rows) == 4
    for seq in ("2", "4"):
        assert rows[seq]["partitionKey"] is None
        assert rows[seq]["shardId"] is None
    assert rows["1"]["shardId"] == "shardId-%012d" % 3  # 7 mod 4
    pushed = (
        _ds_read(spark, path, numShards=4)
        .filter(F.col("shardId") == "shardId-%012d" % 3)
        .collect()
    )
    # user_id 7 and 11 both ≡ 3 (mod 4); the null rows are excluded
    assert sorted(r["sequenceNumber"] for r in pushed) == ["1", "3"]


def test_pushdown_contradictory_equalities_return_empty(spark, sf_dir):
    """Spark can push CONTRADICTORY equality conjuncts (shardId = A AND
    shardId = B — Catalyst doesn't fold them to false).  The source
    consumes only the first per attribute and yields the rest back, so
    Spark evaluates the contradiction to an empty result instead of
    the scan silently returning the last literal's rows."""
    a, b = "shardId-%012d" % 1, "shardId-%012d" % 2
    r = KinesisEnvelopeReader(
        {"path": f"{sf_dir}/events.parquet", "numshards": "8"}
    )
    kept = list(
        r.pushFilters([EqualTo(("shardId",), a), EqualTo(("shardId",), b)])
    )
    assert r.shard_eq == 1 and len(kept) == 1
    got = (
        _ds_read(spark, f"{sf_dir}/events.parquet", numShards=8)
        .filter((F.col("shardId") == a) & (F.col("shardId") == b))
        .count()
    )
    assert got == 0
    # duplicate (non-contradictory) equalities still all consume
    r2 = KinesisEnvelopeReader(
        {"path": f"{sf_dir}/events.parquet", "numshards": "8"}
    )
    kept2 = list(
        r2.pushFilters([EqualTo(("shardId",), a), EqualTo(("shardId",), a)])
    )
    assert r2.shard_eq == 1 and kept2 == []


def test_stream_writer_legacy_marker_means_committed(log_dir):
    """A _commits/<batchId> marker written by the pre-manifest scheme
    ('committed\\n', no .done) was only written AFTER a successful
    apply — a replay must treat it as a fully committed epoch (drop
    staging, append nothing), not parse it as a JSON manifest and
    wedge the stream."""
    writer = KinesisShardLogStreamWriter(
        {"path": log_dir, "numshards": str(N_SHARDS)}
    )
    commits = os.path.join(log_dir, "_commits")
    os.makedirs(commits)
    with open(os.path.join(commits, "5"), "w", encoding="utf-8") as f:
        f.write("committed\n")
    msg = writer.write(iter([_records(["x"], [1])]))
    writer.commit([msg], batchId=5)  # replay of a legacy-committed epoch
    assert not any(f.endswith(".jsonl") for f in os.listdir(log_dir))
    assert not os.listdir(os.path.join(log_dir, "_staging")) if os.path.isdir(
        os.path.join(log_dir, "_staging")
    ) else True


def test_stream_writer_corrupt_marker_fails_loudly(log_dir):
    """A marker that is neither the exact legacy 'committed' text nor a
    parseable manifest is CORRUPTION (e.g. a torn write): commit must
    RAISE, not treat the epoch as committed — silently accepting it
    would skip the rollback (duplicates persist) and drop the replay's
    staged data."""
    writer = KinesisShardLogStreamWriter(
        {"path": log_dir, "numshards": str(N_SHARDS)}
    )
    commits = os.path.join(log_dir, "_commits")
    os.makedirs(commits)
    with open(os.path.join(commits, "9"), "w", encoding="utf-8") as f:
        f.write('{"log_si')  # torn manifest
    msg = writer.write(iter([_records(["x"], [1])]))
    with pytest.raises(json.JSONDecodeError):
        writer.commit([msg], batchId=9)
    # nothing was appended under the corrupt marker
    assert not any(f.endswith(".jsonl") for f in os.listdir(log_dir))


def test_stream_writer_crash_mid_commit_replays_exactly_once(log_dir):
    """Exactly-once under a crash INSIDE commit: the manifest (written
    via atomic rename before any append) records pre-epoch log sizes;
    a replay of an epoch whose previous attempt died mid-append rolls
    the logs back to the manifest and re-applies — no double append,
    no partial rows."""
    writer = KinesisShardLogStreamWriter(
        {"path": log_dir, "numshards": str(N_SHARDS)}
    )

    def stage(n):
        return writer.write(
            iter([_records([f"p-{i}" for i in range(n)], range(n))])
        )

    def total():
        return sum(
            sum(1 for _ in open(os.path.join(log_dir, f)))
            for f in os.listdir(log_dir)
            if f.endswith(".jsonl")
        )

    writer.commit([stage(10)], batchId=1)  # epoch 1 lands clean
    assert total() == 10

    # epoch 2, attempt 1: crash after a PARTIAL append
    real_apply = writer._inner._apply

    def partial_then_crash(messages, fsync=False):
        # append a fragment of the epoch, then die before the .done mark
        with open(
            os.path.join(log_dir, shard_file(0)), "a", encoding="utf-8"
        ) as f:
            f.write(json.dumps({"pk": "torn", "data": "torn"}) + "\n")
        raise OSError("simulated crash mid-append")

    writer._inner._apply = partial_then_crash
    with pytest.raises(OSError):
        writer.commit([stage(6)], batchId=2)
    assert total() == 11  # the torn fragment is on disk

    # Spark replays epoch 2 with fresh task output
    writer._inner._apply = real_apply
    writer.commit([stage(6)], batchId=2)
    assert total() == 16  # 10 + 6: fragment rolled back, applied once
    torn = [
        line
        for f in os.listdir(log_dir)
        if f.endswith(".jsonl")
        for line in open(os.path.join(log_dir, f))
        if "torn" in line
    ]
    assert torn == []

    # a THIRD replay of the now-done epoch is a no-op
    writer.commit([stage(6)], batchId=2)
    assert total() == 16
