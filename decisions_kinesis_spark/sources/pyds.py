"""First-class Spark DataSource for the Kinesis-shaped envelope
(Spark 4 Python DataSource API — ``pyspark.sql.datasource``).

The reference IS a source/producer connector; this module re-expresses
that surface as a *native Spark source*: ``streaming/runtime.consume``
reads it with the options of ``sources/kinesis.connector_options``.
One registration (``register(spark)``) provides ``format("dks_kinesis")``
with four faces:

- **batch reader** — two modes, auto-detected from ``path``:
  *events-adapter* (a driver ``events`` parquet → envelope, one
  InputPartition per parquet row group — the split-per-row-group
  planning a real connector uses) and *shard-log* (a directory of
  append-only per-shard JSONL logs, one InputPartition per shard file —
  S3 partition planning, KinesisThreadJobs.cs:201-218).
  Implements Spark 4.1 ``pushFilters`` for ``shardId``/``partitionKey``
  equality: in shard-log mode a pushed ``shardId`` prunes whole shard
  files (partition pruning) and a pushed ``partitionKey`` is an Arrow
  filter on each batch; in events mode both become a source-side row
  mask applied before rows ever cross into the JVM.
- **streaming reader** — per-shard offsets (``{shard: record_count}``),
  starting-position resolution TRIM_HORIZON/LATEST (C6,
  KinesisThreadJobs.cs:533-556; a checkpoint always wins because
  Structured Streaming replays its own offset WAL), shard discovery on
  every poll (S3 — new shard files join the offset map mid-stream),
  and a per-poll per-shard rate cap (``maxFetchRecordsPerShard`` — the
  reference's MaxRecordsPerRequest, KinesisSettings.cs; the engine
  pages through backlog across micro-batches exactly like the
  reference's GetRecords loop, KinesisThreadJobs.cs:326-440).
  Commit-after-batch is Spark's offset WAL (C4,
  KinesisCheckPointer.cs:97-159); the logs are append-only, so the
  reader keeps the base class's no-op ``commit()`` and ``stop()``.
- **batch writer** — the P2 producer (KinesisMessageQueueImpl.cs:
  99-126) as a transactional sink: each task routes its records to
  shards by the MD5-of-partition-key ring (the documented Kinesis
  routing) and stages one file per shard it touched, already in the
  log's line format; the driver-side ``commit()`` appends the staged
  bytes to the shard logs, shard by shard.  Sequence numbers are
  *assigned by the sink at commit* (implied line index), mirroring the
  service-side sequence assignment of PutRecord.  ``abort()`` discards
  staging, so a failed job publishes nothing; a driver crash during
  ``commit()`` can leave some shard logs appended (see
  ``KinesisShardLogWriter``).
- **streaming writer** — same staging/commit with an epoch marker per
  ``batchId``: a replayed epoch (at-least-once upstream, P1) commits
  exactly once.

Shard-log format (harness contract, shared with the tests): files
``shardId-%012d.jsonl``; one JSON object per line with keys ``pk``
(partition key), ``data`` (payload text; payloads here are UTF-8 JSON,
so bytes round-trip through UTF-8), ``ts`` (ISO 8601 event-arrival
timestamp).  A record's sequence number is its zero-based line index
formatted ``%020d`` — append-only logs make this stable and total
per shard, like Kinesis sequence numbers within a shard.  The writers
write ``ts`` in UTC with an explicit ``+00:00``.  The reader takes a
stamp with an offset as that exact instant and a naive stamp as UTC,
the convention the events-mode reader uses for its naive Arrow
timestamps.  (Reading a naive stamp in the worker's OS time zone, as
row-at-a-time conversion did, would make the value depend on the
host; only naive-stamped logs read on a non-UTC host see the
difference.)

Partition planning: the batch reader has one partition per row group
or shard file.  The streaming reader packs each micro-batch's
per-shard slices, whole and in shard order, into partitions of at
least ``_BATCH_RECORDS`` records, so a tail batch of a few hundred
records per shard is one task instead of one per shard (a task's
fixed cost — launch, the Python worker round trip — dwarfs a few
hundred records).  A slice is never split, so per-shard order holds,
and a slice of ``_BATCH_RECORDS`` or more keeps its own task.

Every path is columnar: shard-log slices are parsed by
``pyarrow.json`` into Arrow RecordBatches of at most
``_BATCH_RECORDS`` lines; the events adapter emits its row groups'
Arrow batches; both writers take Arrow batches, hash each distinct
partition key once, and build log lines with Arrow string kernels; the
commit copies staged bytes and parses no record.  The streaming
reader's offset math is O(|shards|) per poll with a (size,
mtime)-keyed count cache so an unchanged shard file is never re-read.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Iterator

import numpy as np
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from decisions_kinesis_spark.functions.envelope import ENVELOPE_SCHEMA
from decisions_kinesis_spark.session import apply_session_conf, once

_ENVELOPE_NAMES = [f.name for f in ENVELOPE_SCHEMA.fields]
_SHARD_FMT = "shardId-%012d"
_STAGING = "_staging"
_COMMITS = "_commits"
# records per Arrow batch on every read path, and the least records a
# packed streaming partition holds
_BATCH_RECORDS = 16384
_READ_BYTES = 1 << 22  # shard-log read chunk
# a trailing UTC offset on an ISO 8601 stamp
_OFFSET_RE = r"(Z|[+-]\d\d:?\d\d)$"


def shard_file(shard_num: int) -> str:
    return (_SHARD_FMT % shard_num) + ".jsonl"


def route_md5(partition_key: str, num_shards: int) -> int:
    """Kinesis routing: MD5(partition key) positions the record on a
    128-bit ring split evenly across shards (the documented PutRecord
    behavior).  An even split assigns each shard a CONTIGUOUS hash-key
    range — shard = position // (2^128 / num_shards) — so the range
    form ``(position * num_shards) >> 128`` (exact for any shard count)
    lands each key on the SAME shard real Kinesis would pick for an
    evenly-split stream, not merely a consistent one (the earlier
    ``% num_shards`` stand-in was internally consistent but
    service-unfaithful)."""
    digest = hashlib.md5(partition_key.encode("utf-8")).digest()
    return (int.from_bytes(digest, "big") * num_shards) >> 128


def _opt(options, name: str, default: str) -> str:
    # DataSource options arrive as a case-insensitive dict
    return options.get(name.lower(), default)


# ---------------------------------------------------------------------------
# batch reader
# ---------------------------------------------------------------------------


class _RowGroupPartition(InputPartition):
    def __init__(self, path: str, row_group: int):
        self.path = path
        self.row_group = row_group


class _ShardSlices(InputPartition):
    """Whole shard-log slices ``(path, start, end)``, read in order;
    ``end=None`` reads to the end of the file."""

    def __init__(self, slices: list[tuple[str, int, int | None]]):
        self.slices = slices


def _list_shard_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.startswith("shardId-") and f.endswith(".jsonl")
    )


def _line_blocks(
    path: str, start: int, end: int | None
) -> Iterator[tuple[int, int, bytes]]:
    """``(first line index, line count, bytes)`` blocks that cover lines
    [start, end) of a shard log, each at most ``_BATCH_RECORDS`` lines.
    ``end=None`` reads to EOF, an unterminated last line included."""
    if end is not None and end <= start:
        return
    line, carry = 0, b""  # carry: the unterminated tail of the last chunk
    with open(path, "rb") as f:
        while end is None or line < end:
            chunk = f.read(_READ_BYTES)
            if not chunk:
                if carry and end is None and line >= start:
                    yield line, 1, carry
                return
            buf = carry + chunk if carry else chunk
            n = buf.count(b"\n")
            if n == 0 or line + n <= start:  # no wanted line ends here
                carry = buf[buf.rfind(b"\n") + 1 :]
                line += n
                continue
            ends = np.flatnonzero(np.frombuffer(buf, np.uint8) == 0x0A) + 1
            hi = n if end is None else min(n, end - line)
            for a in range(max(start - line, 0), hi, _BATCH_RECORDS):
                b = min(a + _BATCH_RECORDS, hi)
                yield line + a, b - a, buf[ends[a - 1] if a else 0 : ends[b - 1]]
            carry = buf[ends[-1] :]
            line += n


def _utc_micros(ts):
    """Shard-log ``ts`` strings as naive UTC microseconds, the form
    Spark's Arrow bridge reads as an instant: a stamp with an offset is
    that instant, a naive stamp is taken as UTC, and a missing or empty
    one is NULL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    aware = pa.timestamp("us", "UTC")
    try:  # every stamp carries an offset: what the writers produce
        return pc.cast(ts, aware).cast(pa.timestamp("us"))
    except pa.ArrowInvalid:
        pass
    null = pa.scalar(None, pa.string())
    ts = pc.if_else(pc.equal(ts, ""), null, ts)
    has_offset = pc.match_substring_regex(ts, _OFFSET_RE)
    naive = pc.cast(pc.if_else(has_offset, null, ts), pa.timestamp("us"))
    offset = pc.cast(pc.if_else(has_offset, ts, null), aware)
    return pc.coalesce(offset.cast(pa.timestamp("us")), naive)


def _envelope_batch(
    data,
    pk,
    seq,
    ts,
    stream_name: str,
    shard,
    pk_eq: str | None = None,
    shard_eq: str | None = None,
):
    """The envelope RecordBatch of both batch read modes: ``data`` as
    binary, the given columns, ``stream_name`` on every row and a NULL
    ``encryptionType``.  ``pk_eq`` / ``shard_eq`` keep only the rows
    whose ``partitionKey`` / ``shardId`` equals them (a NULL key
    matches neither), in one filter."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(data)
    batch = pa.RecordBatch.from_arrays(
        [
            pc.cast(data, pa.binary()),
            pk,
            seq,
            ts,
            pa.repeat(stream_name, n),
            shard,
            pa.nulls(n, pa.string()),
        ],
        names=_ENVELOPE_NAMES,
    )
    keep = None
    for col, want in ((pk, pk_eq), (shard, shard_eq)):
        if want is not None:
            eq = pc.equal(col, want)
            keep = eq if keep is None else pc.and_(keep, eq)
    return batch if keep is None else batch.filter(keep)


def _slice_batches(
    path: str,
    start: int,
    end: int | None,
    stream_name: str,
    pk_eq: str | None = None,
):
    """Envelope RecordBatches for one shard-log slice [start, end).

    A line that is not a JSON object fails, and so does one without a
    non-null string ``data``; a missing ``pk`` or ``ts`` reads as NULL.
    ``pk_eq`` keeps only the records with that partition key."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pj

    shard_id = os.path.basename(path)[: -len(".jsonl")]
    parse = pj.ParseOptions(
        explicit_schema=pa.schema(
            [("pk", pa.string()), ("data", pa.string()), ("ts", pa.string())]
        ),
        unexpected_field_behavior="ignore",
    )
    for first, n, block in _line_blocks(path, start, end):
        where = f"{path} lines [{first}, {first + n})"
        try:
            table = pj.read_json(
                pa.BufferReader(block),
                read_options=pj.ReadOptions(
                    use_threads=False, block_size=len(block) + 1
                ),
                parse_options=parse,
            )
        except pa.ArrowInvalid as exc:
            raise ValueError(f"{where}: {exc}") from exc
        if table.num_rows != n:  # a blank line, or two objects on one
            raise ValueError(f"{where}: {table.num_rows} JSON objects")
        data = table.column("data").combine_chunks()
        if data.null_count:
            raise ValueError(f"{where}: a record has no 'data'")
        seq = pc.utf8_lpad(
            pc.cast(pa.array(np.arange(first, first + n)), pa.string()), 20, "0"
        )
        batch = _envelope_batch(
            data,
            table.column("pk").combine_chunks(),
            seq,
            _utc_micros(table.column("ts").combine_chunks()),
            stream_name,
            pa.repeat(shard_id, n),
            pk_eq=pk_eq,
        )
        if batch.num_rows:
            yield batch


class KinesisEnvelopeReader(DataSourceReader):
    """Batch envelope scan (events-adapter or shard-log mode)."""

    def __init__(self, options):
        self.path = options["path"]
        self.num_shards = int(_opt(options, "numShards", "8"))
        self.stream_name = _opt(options, "streamName", "events")
        self.events_mode = self.path.endswith(".parquet")
        # pushed predicates (Spark 4.1 pushFilters)
        self.shard_eq: int | None = None
        self.pk_eq: str | None = None

    def pushFilters(self, filters):  # noqa: N802 - Spark API name
        """Consume EqualTo on shardId / partitionKey; everything else
        stays with Spark.  Consumed filters are exact: both modes
        derive shardId deterministically (events: user_id mod
        numShards; log: the file name), so source- and Spark-side
        evaluation agree, including on NULL keys (NULL routes nowhere
        and equality is never true)."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("shardId",):
                lit = str(f.value)
                try:
                    num = int(lit.rsplit("-", 1)[1])
                except (IndexError, ValueError):
                    yield f
                    continue
                # Only consume the filter when the literal round-trips
                # to the canonical emitted form: every shardId this
                # source produces is 'shardId-%012d', so a literal like
                # 'shardId-5' or 'foo-7' matches NO row — but a consumed
                # filter is never re-applied by Spark, so consuming it
                # with shard_eq=5 would silently RETURN rows violating
                # the user's WHERE.  Yield it back instead; Spark
                # evaluates it exactly (to empty) post-scan.
                if lit != _SHARD_FMT % num:
                    yield f
                    continue
                # consume only the FIRST equality per attribute: Spark
                # can push contradictory conjuncts (shardId = A AND
                # shardId = B — Catalyst doesn't fold them to false),
                # and overwriting shard_eq would silently drop the
                # first one.  Yielding the extra back lets Spark
                # evaluate the contradiction to an empty result.
                if self.shard_eq is not None and self.shard_eq != num:
                    yield f
                    continue
                self.shard_eq = num
            elif isinstance(f, EqualTo) and f.attribute == ("partitionKey",):
                pk = str(f.value)
                if self.pk_eq is not None and self.pk_eq != pk:
                    yield f
                    continue
                self.pk_eq = pk
            else:
                yield f

    def partitions(self):
        if self.events_mode:
            import pyarrow.parquet as pq

            # a parquet "table" is one file or a directory of part
            # files (the layout every writer at scale produces); the
            # split unit is (file, row group) either way
            if os.path.isdir(self.path):
                files = sorted(
                    os.path.join(self.path, f)
                    for f in os.listdir(self.path)
                    if f.endswith(".parquet")
                )
            else:
                files = [self.path]
            return [
                _RowGroupPartition(p, i)
                for p in files
                for i in range(pq.ParquetFile(p).num_row_groups)
            ]
        files = _list_shard_files(self.path)
        if self.shard_eq is not None:  # partition pruning on pushed shard
            want = shard_file(self.shard_eq)
            files = [p for p in files if os.path.basename(p) == want]
        return [_ShardSlices([(p, 0, None)]) for p in files]

    def read(self, partition):
        if isinstance(partition, _ShardSlices):
            for path, start, end in partition.slices:
                yield from _slice_batches(
                    path, start, end, self.stream_name, self.pk_eq
                )
            return
        yield from self._read_events(partition)

    def _read_events(self, partition):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        shard_eq = None if self.shard_eq is None else _SHARD_FMT % self.shard_eq
        f = pq.ParquetFile(partition.path)
        for batch in f.iter_batches(
            batch_size=_BATCH_RECORDS,
            row_groups=[partition.row_group],
            columns=["event_id", "ts", "user_id", "props"],
        ):
            uid = batch.column("user_id")
            # shardId-%012d of user_id mod numShards; a NULL user_id
            # routes NOWHERE (the pushFilters contract): NULL
            # partitionKey and NULL shardId, so every shard/pk equality
            # excludes it
            shard = pa.array(
                np.mod(uid.fill_null(0).to_numpy(), self.num_shards),
                mask=uid.is_null().to_numpy(zero_copy_only=False),
            )
            ts = batch.column("ts")
            if ts.type != pa.timestamp("us"):
                # writers differ (us in the driver fixtures, ns from a
                # Spark rewrite); Spark's Arrow bridge takes only us
                ts = ts.cast(pa.timestamp("us"), safe=False)
            env = _envelope_batch(
                batch.column("props"),
                pc.cast(uid, pa.string()),
                pc.cast(batch.column("event_id"), pa.string()),
                ts,
                self.stream_name,
                pc.binary_join_element_wise(
                    "shardId-", pc.utf8_lpad(pc.cast(shard, pa.string()), 12, "0"), ""
                ),
                pk_eq=self.pk_eq,
                shard_eq=shard_eq,
            )
            if env.num_rows:
                yield env


# ---------------------------------------------------------------------------
# streaming reader
# ---------------------------------------------------------------------------


class KinesisShardLogStreamReader(DataSourceStreamReader):
    """S1 polling source over an append-only shard-log directory.

    Offsets are ``{shard file stem: records consumed}``.  Each
    ``latestOffset`` poll is one GetRecords round: it discovers shards
    (S3), advances each shard by at most ``maxFetchRecordsPerShard``
    records past the previous poll (the MaxRecordsPerRequest cap), and
    the engine keeps polling until the backlog drains — the same
    paging loop as KinesisThreadJobs.cs:326-440 with Spark's WAL
    playing the checkpoint table (C4).  The cap is a steady-state rate
    limit: the first poll of a reader instance returns the true latest
    (see ``__init__`` for why a capped first poll would be unsafe).

    The reference runs one GetRecords loop per leased shard
    (KinesisThreadJobs.cs:201-218); ``partitions`` instead packs a
    micro-batch's per-shard slices into record-sized tasks (see the
    module docstring), keeping each slice whole and in order."""

    def __init__(self, options):
        self.path = options["path"]
        start = _opt(options, "startingposition", "TRIM_HORIZON").upper()
        if start not in ("TRIM_HORIZON", "LATEST"):
            raise ValueError(
                f"startingposition must be TRIM_HORIZON or LATEST, got {start}"
            )
        self.start_latest = start == "LATEST"
        self.max_fetch = int(_opt(options, "maxFetchRecordsPerShard", "10000"))
        if self.max_fetch <= 0:
            raise ValueError("maxFetchRecordsPerShard must be positive")
        self.stream_name = _opt(options, "streamName", "events")
        # Poll base for the rate cap.  CONTRACT (measured against the
        # Spark 4.1 microbatch engine): the engine may call
        # latestOffset() BEFORE initialOffset(), and it commits whatever
        # latestOffset returns even when it is behind the WAL — so the
        # first poll of any reader instance must return the TRUE latest
        # (a capped value could regress the offset WAL after a restart
        # and re-deliver).  The cap is therefore a steady-state rate
        # limit, exactly like GetRecords paging, which also returns up
        # to the limit from wherever the shard iterator already is.
        self._poll_base: dict[str, int] | None = None
        # (size, mtime) -> count cache so unchanged files aren't re-read
        self._count_cache: dict[str, tuple[tuple[int, float], int]] = {}

    def _counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        if not os.path.isdir(self.path):
            return out
        for p in _list_shard_files(self.path):
            stem = os.path.basename(p)[: -len(".jsonl")]
            st = os.stat(p)
            key = (st.st_size, st.st_mtime)
            cached = self._count_cache.get(p)
            if cached is not None and cached[0] == key:
                out[stem] = cached[1]
                continue
            with open(p, "rb") as f:
                n = sum(chunk.count(b"\n") for chunk in iter(lambda: f.read(1 << 20), b""))
            self._count_cache[p] = (key, n)
            out[stem] = n
        return out

    def initialOffset(self) -> dict:  # noqa: N802
        counts = self._counts()
        offset = counts if self.start_latest else {s: 0 for s in counts}
        if self._poll_base is None:  # never clobber an established base
            self._poll_base = dict(offset)
        return offset

    def latestOffset(self) -> dict:  # noqa: N802
        counts = self._counts()
        if self._poll_base is None:
            # first poll of this instance: true latest (see __init__ —
            # the committed WAL position is unknown and may be ahead)
            self._poll_base = dict(counts)
            return dict(counts)
        end = {
            shard: min(n, self._poll_base.get(shard, 0) + self.max_fetch)
            for shard, n in counts.items()
        }
        self._poll_base = dict(end)
        return end

    def partitions(self, start: dict, end: dict):
        # resync the poll base with the engine's actual batch range —
        # initialOffset/latestOffset call order is not guaranteed, and
        # `start` is the one place the WAL position reaches the reader
        base = dict(self._poll_base or {})
        for shard in set(start) | set(end):
            base[shard] = max(
                base.get(shard, 0), start.get(shard, 0), end.get(shard, 0)
            )
        self._poll_base = base
        # pack whole slices, in shard order, into partitions of at least
        # _BATCH_RECORDS records; a slice that size or larger goes alone
        parts, group, size = [], [], 0
        for shard, hi in sorted(end.items()):
            lo = start.get(shard, 0)
            if hi <= lo:
                continue
            piece = (os.path.join(self.path, shard + ".jsonl"), lo, hi)
            if hi - lo >= _BATCH_RECORDS:
                parts.append(_ShardSlices([piece]))
                continue
            group.append(piece)
            size += hi - lo
            if size >= _BATCH_RECORDS:
                parts.append(_ShardSlices(group))
                group, size = [], 0
        if group:
            parts.append(_ShardSlices(group))
        return parts

    def read(self, partition):
        for path, start, end in partition.slices:
            yield from _slice_batches(path, start, end, self.stream_name)


# ---------------------------------------------------------------------------
# writers (P2 producer analog)
# ---------------------------------------------------------------------------


@dataclass
class _StagedShards(WriterCommitMessage):
    files: list[tuple[int, str]]  # (shard, staged file), shard order


def _json_strings(arr):
    """JSON string literals of a non-null string array, as
    ``json.dumps(s, ensure_ascii=False)`` writes them."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if pc.any(pc.match_substring_regex(arr, "[\\x00-\\x1f]")).as_py():
        # control characters take per-character escapes: rare, so the
        # whole batch goes through the json module
        enc = json.encoder.encode_basestring
        return pa.array([enc(s) for s in arr.to_pylist()], pa.string())
    esc = pc.replace_substring(pc.replace_substring(arr, "\\", "\\\\"), '"', '\\"')
    return pc.binary_join_element_wise('"', esc, '"', "")


def _log_lines(batch, num_shards: int):
    """Shard-log lines (``\\n``-terminated) of one writer batch, and each
    line's shard.  Keys are hashed and JSON-encoded once per distinct
    key (dictionary encoding)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    names = batch.schema.names
    if "data" not in names or batch.column("data").null_count:
        raise ValueError("writer rows need a 'data' column")
    data = batch.column("data").cast(pa.string())  # validates UTF-8
    n = batch.num_rows
    pk = (
        batch.column("partitionKey").cast(pa.string()).fill_null("")
        if "partitionKey" in names
        else pa.repeat("", n)
    ).dictionary_encode()
    keys = pk.dictionary.to_pylist()
    key_shard = np.array([route_md5(k, num_shards) for k in keys], np.int64)
    ts = None
    for name in ("approximateArrivalTimestamp", "ts"):
        if name in names:  # UTC microseconds whatever the session zone
            col = batch.column(name).cast(pa.timestamp("us"))
            ts = col if ts is None else pc.coalesce(ts, col)
    ts_json = "null"
    if ts is not None:  # 'YYYY-MM-DD hh:mm:ss.ffffff' → ISO 8601 in UTC
        stamp = pc.replace_substring(pc.cast(ts, pa.string()), " ", "T", max_replacements=1)
        ts_json = pc.binary_join_element_wise('"', stamp, '+00:00"', "").fill_null("null")
    lines = pc.binary_join_element_wise(
        '{"pk": ',
        _json_strings(pk.dictionary).take(pk.indices),
        ', "data": ',
        _json_strings(data),
        ', "ts": ',
        ts_json,
        "}\n",
        "",
    )
    return lines, key_shard[pk.indices.to_numpy(zero_copy_only=False)]


def _utf8_bytes(arr) -> memoryview:
    """The concatenated bytes of a string array, without a copy."""
    offsets = np.frombuffer(arr.buffers()[1], np.int32, len(arr) + 1, 4 * arr.offset)
    return memoryview(arr.buffers()[2])[offsets[0] : offsets[-1]]


class KinesisShardLogWriter(DataSourceArrowWriter):
    """Transactional producer: route and stage per task, append at commit.

    Mirrors PutRecord (KinesisMessageQueueImpl.cs:99-126): the record
    carries (PartitionKey, Data); the *service* assigns shard (MD5
    ring) and sequence number — here each task routes its records into
    one staged file per shard, and the driver-side commit appends the
    staged files in task order, which assigns the sequence numbers.
    ``abort`` leaves the logs untouched.

    The commit is not crash-atomic: it appends shard by shard, so a
    driver crash mid-commit leaves the logs it reached appended and the
    others not, and a rerun of the job appends those records again.
    Only ``KinesisShardLogStreamWriter``'s per-epoch manifest makes a
    commit safe to replay after a crash."""

    def __init__(self, options, overwrite: bool = False):
        self.path = options["path"]
        self.num_shards = int(_opt(options, "numShards", "8"))
        self.overwrite = overwrite

    # -- executor side -----------------------------------------------------
    def write(self, iterator) -> _StagedShards:
        import pyarrow as pa

        staging = os.path.join(self.path, _STAGING)
        os.makedirs(staging, exist_ok=True)
        stem = os.path.join(staging, uuid.uuid4().hex)
        staged: dict[int, object] = {}
        try:
            for batch in iterator:
                lines, shards = _log_lines(batch, self.num_shards)
                for shard in np.unique(shards).tolist():
                    fh = staged.get(shard)
                    if fh is None:
                        fh = open(f"{stem}-{shard}.jsonl", "wb")  # noqa: SIM115
                        staged[shard] = fh
                    fh.write(_utf8_bytes(lines.filter(pa.array(shards == shard))))
        finally:
            for fh in staged.values():
                fh.close()
        return _StagedShards([(s, fh.name) for s, fh in sorted(staged.items())])

    # -- driver side -------------------------------------------------------
    def _apply(self, messages, fsync: bool = False) -> None:
        if self.overwrite:
            for p in _list_shard_files(self.path):
                os.remove(p)
        appenders: dict[int, object] = {}
        try:
            for msg in messages:
                for shard, path in msg.files if msg is not None else ():
                    fh = appenders.get(shard)
                    if fh is None:
                        fh = open(  # noqa: SIM115 - pooled, closed below
                            os.path.join(self.path, shard_file(shard)), "ab"
                        )
                        appenders[shard] = fh
                    with open(path, "rb") as src:
                        shutil.copyfileobj(src, fh)
        finally:
            for fh in appenders.values():
                if fsync:
                    # power-loss durability (streaming commit protocol):
                    # appends must reach disk BEFORE the .done marker,
                    # or a lost append under a surviving marker would
                    # record post-partial sizes as pre-epoch on replay
                    fh.flush()
                    os.fsync(fh.fileno())
                fh.close()
        self._clean_staging(messages)

    def _clean_staging(self, messages) -> None:
        for msg in messages:
            for _, path in msg.files if msg is not None else ():
                if os.path.exists(path):
                    os.remove(path)
        staging = os.path.join(self.path, _STAGING)
        if os.path.isdir(staging) and not os.listdir(staging):
            os.rmdir(staging)

    def commit(self, messages) -> None:
        self._apply(messages)

    def abort(self, messages) -> None:
        self._clean_staging(messages)


class KinesisShardLogStreamWriter(DataSourceStreamArrowWriter):
    """Streaming producer with idempotent epoch commit: per ``batchId``,
    a pre-append MANIFEST (the byte size of every shard log before this
    epoch touched it, written via atomic rename) plus a post-append
    ``.done`` marker make an at-least-once replayed epoch (P1) append
    exactly once EVEN IF a previous attempt crashed mid-append:

    - crash before the manifest rename → nothing applied, replay
      starts clean;
    - crash after the manifest, anywhere in the append → the replay
      finds manifest-without-done, TRUNCATES each shard log back to
      its recorded pre-epoch size (removing logs the partial attempt
      created), then re-applies;
    - crash after ``.done`` → pure replay, staging dropped.

    The earlier apply-then-mark scheme double-appended on a crash
    between apply and marker write — the exactly-once claim only held
    when commit never failed mid-way.

    Durability (ADVICE r8): every ordering the protocol relies on is
    fsynced — the manifest content before its rename, the ``_commits``
    DIRECTORY after each rename (so neither rename can be lost while
    later writes survive), and the shard-log appends before ``.done``
    — making the exactly-once claim hold under power loss, not just
    process crash.

    SINGLE WRITER PER PATH (ADVICE r8): the torn-append rollback
    truncates shard logs to the manifest's sizes and deletes logs the
    manifest doesn't list — an exact undo ONLY if nothing else
    appended in between.  A concurrent batch writer or second
    streaming query on the same path would have committed data
    truncated or deleted.  One writer per output path is the operating
    contract (the same one Spark's own file-sink ``_spark_metadata``
    log imposes); co-writers must use separate paths."""

    def __init__(self, options):
        self._inner = KinesisShardLogWriter(options, overwrite=False)
        self.path = self._inner.path

    def write(self, iterator) -> _StagedShards:
        return self._inner.write(iterator)

    def _log_sizes(self) -> dict[str, int]:
        return {
            os.path.basename(p): os.path.getsize(p)
            for p in _list_shard_files(self.path)
        }

    def _rollback(self, sizes: dict[str, int]) -> None:
        """Restore every shard log to its manifest byte size (appends
        are the only mutation, so truncation is an exact undo); logs
        absent from the manifest were created by the partial attempt
        and are removed whole."""
        for p in _list_shard_files(self.path):
            want = sizes.get(os.path.basename(p))
            if want is None:
                os.remove(p)
            elif os.path.getsize(p) > want:
                with open(p, "r+b") as f:
                    f.truncate(want)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        commits = os.path.join(self.path, _COMMITS)
        os.makedirs(commits, exist_ok=True)
        marker = os.path.join(commits, str(batchId))
        done = marker + ".done"
        if os.path.exists(done):  # fully committed epoch: drop the replay
            self._inner._clean_staging(messages)
            return
        if os.path.exists(marker):
            # manifest without .done: a previous attempt crashed during
            # the append — roll the logs back to pre-epoch state first.
            # EXACTLY the legacy apply-then-mark marker ('committed')
            # means a fully committed pre-upgrade epoch (the old scheme
            # wrote it only AFTER a successful apply) — treat as done.
            # Anything else that fails to parse as a manifest is
            # CORRUPTION and must fail loudly: silently treating it as
            # committed would skip the rollback (duplicates stay) AND
            # drop the replay's data — wrong in both directions.
            with open(marker, encoding="utf-8") as f:
                raw = f.read()
            if raw.rstrip() == "committed":
                self._inner._clean_staging(messages)
                return
            manifest = json.loads(raw)
            self._rollback(manifest["log_sizes"])
        else:
            tmp = marker + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump({"log_sizes": self._log_sizes()}, f)
                f.flush()
                os.fsync(f.fileno())  # marker durable BEFORE the rename
            os.replace(tmp, marker)  # atomic: the epoch's commit point
            self._fsync_dir(commits)  # rename durable BEFORE any append
        self._inner._apply(messages, fsync=True)  # appends durable pre-.done
        tmp_done = done + ".tmp"
        with open(tmp_done, "w", encoding="utf-8") as f:
            f.write("committed\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp_done, done)
        self._fsync_dir(commits)

    @staticmethod
    def _fsync_dir(path: str) -> None:
        """Flush a directory's entry table so a completed rename cannot
        be lost under power failure while later writes survive (the
        reordering that would turn the manifest/.done protocol's
        exactly-once into duplicates)."""
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._inner._clean_staging(messages)


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------


class KinesisEnvelopeDataSource(DataSource):
    """``format("dks_kinesis")`` — envelope batch/stream reader+writer."""

    @classmethod
    def name(cls) -> str:
        return "dks_kinesis"

    def schema(self) -> StructType:
        return ENVELOPE_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return KinesisEnvelopeReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return KinesisShardLogStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return KinesisShardLogWriter(self.options, overwrite=overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return KinesisShardLogStreamWriter(self.options)


def register(spark) -> None:
    """Register ``format("dks_kinesis")`` once per session, after the
    engine confs (the reader's pushFilters needs
    ``spark.sql.python.filterPushdown.enabled``).  Re-registering on
    every query call is accepted by Spark but logs a
    ``DataSourceManager: The data source dks_kinesis replaced...`` WARN
    each time."""
    apply_session_conf(spark)
    once(spark, "dks_kinesis", lambda: spark.dataSource.register(KinesisEnvelopeDataSource))
