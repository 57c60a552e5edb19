"""Multimodal (binary) column handling (north-star, SURVEY.md §7 M6).

Media payloads are opaque ``binary`` columns with typed metadata —
exactly the reference's data model for Kinesis record payloads
(``Record.Data`` bytes, SURVEY.md §1.1).  The full media triplet runs
REAL byte-level decoders over format-valid synthesized blobs: image
(binary P6 PPM, ``decode_ppm``), audio (RIFF/WAVE PCM,
``decode_wav`` — validated against Python's independent stdlib
``wave`` writer/reader), and video-style frame sampling
(``frame_sample``).  Only COMPRESSED codecs (JPEG/PNG/MP3/...) stay
gated behind ``decode_image``: those need PIL/cv2/libsndfile, absent
in this container; the bytes-in/stats-out contract is identical.

The ``multimodal_blob_metadata`` query demonstrates the metadata path
end-to-end with a DuckDB value oracle (byte length + hex/base64
prefixes of the blob).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from decisions_kinesis_spark.sources.tables import load_table


def documents_as_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: treat document text bytes as an opaque media blob —
    the container has no real media fixtures, so this exercises the
    binary-column plumbing with deterministic content."""
    from decisions_kinesis_spark.functions.parallel import ensure_parallelism

    # blob decode downstream is per-row heavy Arrow work; spread the
    # single-split fixture scan (no-op at scale)
    docs = ensure_parallelism(load_table(spark, "documents", sf_dir))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("blob"),
        F.lit("text/plain").alias("media_type"),
        F.octet_length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes"),
        F.to_json(F.struct("lang", "source")).alias("meta"),
    )


def decode_image(blob: bytes) -> "object":
    """STUB — decode for COMPRESSED formats (JPEG/PNG/...) requires
    PIL/cv2, absent in this container; the bytes-in, HxWxC-out contract
    is what a production deployment plugs a codec into.  The
    header-parseable P6 PPM path is fully implemented — see
    ``decode_ppm`` — so the registered feature-extract query runs a
    REAL decode, not a stand-in."""
    raise NotImplementedError("compressed-image codecs not available here")


def _parse_p6(blob: bytes) -> tuple[int, int, bytes]:
    """Shared P6 header walk + pixel-plane slice for decode_ppm and
    resize_box2 (one parser, two reducers): validates the magic, walks
    arbitrary header whitespace and ``#`` comments, enforces 8-bit
    maxval, and raises on truncation."""
    if not blob.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(blob) and blob[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(blob) and blob[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed PPM header")
        vals.append(int(blob[start:pos]))
    width, height, maxval = vals
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    pos += 1  # exactly one whitespace byte separates maxval from pixels
    px = blob[pos : pos + width * height * 3]
    if len(px) != width * height * 3:
        raise ValueError("truncated pixel data")
    return width, height, px


def decode_ppm(blob: bytes) -> dict:
    """REAL image decode for binary PPM (P6): parse the header (magic,
    whitespace/comment-separated width, height, maxval), slice the
    pixel plane, and reduce it to integer channel statistics.  This is
    a genuine byte-level format parser — it validates the magic, walks
    arbitrary header whitespace and ``#`` comments, and raises on
    truncation — not a fake keyed to the generator's layout.

    Returns width, height, n_pix, per-channel byte sums, and the
    BT.709-weighted integer luma sum (2126·R + 7152·G + 722·B per
    pixel, i.e. luma scaled by 1e4) — all exact integers, so the SQL
    oracle can reproduce them bit-for-bit from the hex dump.
    """
    width, height, px = _parse_p6(blob)
    n_pix = width * height
    import numpy as np

    arr = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
    sum_r = int(arr[0::3].sum())
    sum_g = int(arr[1::3].sum())
    sum_b = int(arr[2::3].sum())
    return {
        "width": width,
        "height": height,
        "n_pix": n_pix,
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
        "luma_sum": 2126 * sum_r + 7152 * sum_g + 722 * sum_b,
    }


def resize_box2(blob: bytes) -> dict:
    """REAL image resize: decode the P6 blob (the ``decode_ppm``
    header walk), reshape to H×W×3, and 2× box-downsample — each
    output pixel is the floor-average of its 2×2 source block (odd
    trailing rows/columns drop, the standard crop).  Returns the
    resized dimensions and per-channel byte sums of the RESIZED image
    — exact integers, replayable from the generator arithmetic."""
    import numpy as np

    width, height, px = _parse_p6(blob)
    arr = (
        np.frombuffer(px, dtype=np.uint8)
        .astype(np.int64)
        .reshape(height, width, 3)
    )
    rh, rw = height // 2, width // 2
    crop = arr[: rh * 2, : rw * 2, :]
    blocks = (
        crop[0::2, 0::2] + crop[0::2, 1::2] + crop[1::2, 0::2] + crop[1::2, 1::2]
    ) // 4
    return {
        "r_width": rw,
        "r_height": rh,
        "rsum_r": int(blocks[:, :, 0].sum()),
        "rsum_g": int(blocks[:, :, 1].sum()),
        "rsum_b": int(blocks[:, :, 2].sum()),
    }


def fake_decode_features(blob: bytes) -> list[float]:
    """Deterministic stand-in for a media feature extractor: fixed-size
    feature vector derived from byte statistics (testable, stable)."""
    if not blob:
        return [0.0] * 4
    n = len(blob)
    return [
        float(n),
        float(sum(blob) % 997),
        float(blob[0]),
        float(blob[-1]),
    ]


def documents_as_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize REAL binary P6 PPM images from document bytes — pure
    column expressions, no Python: dimensions derive from doc_id
    (width 2-9 × height 2-9), the header is the standard
    ``P6\\n{w} {h}\\n255\\n``, and the pixel plane cycles the
    document's UTF-8 bytes to exactly w·h·3 bytes (via hex-string
    repeat + slice, then one unhex).  The blobs are format-valid
    images any PPM reader decodes, so the decode step downstream is a
    genuine parser, not a fixture-shape trick.

    Scale: scan-side projection only — at 100 TB this is the writer
    side of a media lake; no shuffle, no Python.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return (
        docs.withColumn("w", F.expr("2 + doc_id % 8"))
        .withColumn("h", F.expr("2 + (doc_id div 8) % 8"))
        # hex of the text bytes; '30' (the byte '0') for empty docs so
        # the cycle always has content
        .withColumn(
            "src",
            F.expr(
                "case when length(text) = 0 then '30'"
                " else hex(encode(text, 'UTF-8')) end"
            ),
        )
        .withColumn("needed", F.expr("w * h * 6"))
        .withColumn(
            "pixhex",
            F.expr(
                "substring(repeat(src, cast((needed + length(src) - 1)"
                " div length(src) as int)), 1, needed)"
            ),
        )
        .select(
            F.col("doc_id").alias("media_id"),
            F.unhex(
                F.concat(
                    F.hex(
                        F.encode(
                            F.concat(
                                F.lit("P6\n"),
                                F.col("w").cast("string"),
                                F.lit(" "),
                                F.col("h").cast("string"),
                                F.lit("\n255\n"),
                            ),
                            "UTF-8",
                        )
                    ),
                    F.col("pixhex"),
                )
            ).alias("blob"),
            F.lit("image/x-portable-pixmap").alias("media_type"),
        )
    )


_WAV_RATE = 8000  # sample rate written into the synthetic WAV headers


def _le_hex(expr: str, nbytes: int) -> str:
    """SQL fragment: little-endian hex encoding of an integer expr."""
    return " || ".join(
        f"lpad(hex(({expr}) div {1 << (8 * k)} % 256), 2, '0')"
        for k in range(nbytes)
    )


def documents_as_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize REAL RIFF/WAVE PCM files (mono, s16le, 8 kHz) — pure
    column expressions, no Python: per document, ``16 + doc_id % 64``
    samples with the deterministic waveform
    ``v_i = (doc_id·31 + i·17) mod 65536`` (interpreted as signed
    16-bit), wrapped in a byte-exact WAV container (RIFF size fields,
    fmt chunk with PCM/1-channel/16-bit, data chunk) built from
    little-endian hex fragments and one ``unhex``.  Any WAV reader
    decodes these blobs — the downstream decode is a genuine RIFF
    chunk walker, not a fixture-shape trick.  (The audio dual of
    ``documents_as_ppm``.)

    Scale: scan-side projection only — the writer side of a media
    lake; no shuffle, no Python.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    header_const = (
        "hex(encode('WAVE', 'UTF-8')) || hex(encode('fmt ', 'UTF-8'))"
        f" || '{16:02x}000000'"  # fmt chunk size 16 LE32
        f" || '0100' || '0100'"  # PCM format 1, channels 1 (LE16)
        f" || {_le_hex(str(_WAV_RATE), 4)}"
        f" || {_le_hex(str(_WAV_RATE * 2), 4)}"  # byte rate
        f" || '0200' || '1000'"  # block align 2, bits 16 (LE16)
        " || hex(encode('data', 'UTF-8'))"
    )
    return (
        docs.withColumn("n", F.expr("16 + doc_id % 64"))
        .withColumn(
            "datahex",
            F.expr(
                "array_join(transform(sequence(0, n - 1), i ->"
                " lpad(hex((doc_id * 31 + i * 17) % 65536 % 256), 2, '0')"
                " || lpad(hex((doc_id * 31 + i * 17) % 65536 div 256), 2, '0')"
                "), '')"
            ),
        )
        .select(
            F.col("doc_id").alias("media_id"),
            F.unhex(
                F.expr(
                    "hex(encode('RIFF', 'UTF-8'))"
                    f" || {_le_hex('36 + n * 2', 4)}"
                    f" || {header_const}"
                    f" || {_le_hex('n * 2', 4)}"
                    " || datahex"
                )
            ).alias("blob"),
            F.lit("audio/wav").alias("media_type"),
        )
    )


def _wav_pcm_samples(blob: bytes) -> tuple[int, tuple]:
    """REAL RIFF/WAVE PCM chunk walk → (sample_rate, s16le samples).
    Validates the RIFF magic and size field, finds ``fmt `` and
    ``data``, enforces mono PCM/16-bit — raises on truncation, wrong
    magic, or a non-PCM format.  Shared by the stats decode
    (``decode_wav``) and the segmentation framing
    (``wav_frame_energies``)."""
    import struct

    if len(blob) < 12 or blob[0:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    riff_size = struct.unpack_from("<I", blob, 4)[0]
    if riff_size + 8 != len(blob):
        raise ValueError("RIFF size field does not match blob length")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(blob):
        cid, csize = blob[pos : pos + 4], struct.unpack_from("<I", blob, pos + 4)[0]
        body = blob[pos + 8 : pos + 8 + csize]
        if len(body) < csize:
            raise ValueError(f"truncated chunk {cid!r}")
        if cid == b"fmt ":
            if csize < 16:
                raise ValueError("fmt chunk too short")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + csize + (csize % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _byte_rate, _align, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise ValueError(f"not PCM16 (fmt={audio_fmt}, bits={bits})")
    if channels != 1:
        raise ValueError(f"only mono supported (channels={channels})")
    if len(data) % 2 != 0:
        raise ValueError("data chunk not sample-aligned")
    return rate, struct.unpack(f"<{len(data) // 2}h", data)


def decode_wav(blob: bytes) -> dict:
    """REAL audio decode for RIFF/WAVE PCM (the ``_wav_pcm_samples``
    chunk walker) reduced to integer statistics (Σs, Σs², peak |s|) —
    exactly what a production audio pipeline wraps around libsndfile,
    with the decode swapped for stdlib struct."""
    rate, samples = _wav_pcm_samples(blob)
    n = len(samples)
    return {
        "n_samples": n,
        "sample_rate": rate,
        "sum_s": int(sum(samples)),
        "sq_sum": int(sum(s * s for s in samples)),
        "peak": int(max((abs(s) for s in samples), default=0)),
    }


_SEG_FRAME = 4  # samples per energy frame (last frame may be partial)


def wav_frame_energies(blob: bytes) -> list[int]:
    """Per-frame energy Σs² over fixed ``_SEG_FRAME``-sample windows of
    the decoded PCM stream (final partial frame kept as its own
    frame) — the framing stage every VAD/energy segmenter runs after
    decode; exact integers."""
    _rate, samples = _wav_pcm_samples(blob)
    return [
        int(sum(s * s for s in samples[i : i + _SEG_FRAME]))
        for i in range(0, len(samples), _SEG_FRAME)
    ]


def extract_audio_features(df: DataFrame) -> DataFrame:
    """mapInPandas REAL-decode path for WAV blobs (the audio analog of
    ``extract_image_features``); Arrow-batched, per-partition map."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [decode_wav(b) for b in pdf["blob"]]
            out = pd.DataFrame(decoded)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return df.mapInPandas(
        _batches,
        "media_id long, n_samples long, sample_rate long,"
        " sum_s long, sq_sum long, peak long",
    )


def extract_audio_frame_energies(df: DataFrame) -> DataFrame:
    """mapInPandas framing path: blob → per-frame energy list via the
    shared RIFF walker (``wav_frame_energies``); Arrow-batched."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "energies": [
                        wav_frame_energies(b) for b in pdf["blob"]
                    ],
                }
            )

    return df.mapInPandas(_batches, "media_id long, energies array<long>")


def extract_image_features(df: DataFrame) -> DataFrame:
    """mapInPandas REAL-decode path: parse each P6 blob with
    ``decode_ppm`` and emit integer channel statistics.  Arrow-batched;
    batch size bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
    so a partition of large blobs cannot blow executor memory."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [decode_ppm(b) for b in pdf["blob"]]
            out = pd.DataFrame(decoded)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return df.mapInPandas(
        _batches,
        "media_id long, width long, height long, n_pix long,"
        " sum_r long, sum_g long, sum_b long, luma_sum long",
    )


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over media blobs — the real
    Arrow-batched plumbing a decode/resize/frame-sample step uses.

    Scale: pure per-partition map (no shuffle); batch size bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition of
    large blobs cannot blow executor memory.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = pdf["blob"].map(fake_decode_features)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "features": feats,
                }
            )

    return df.mapInPandas(
        _batches, "media_id long, media_type string, features array<double>"
    )


def frame_sample(df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled offset of
    each blob (stand-in for video frame extraction).  Pure Column ops —
    ``sequence`` + ``explode`` — so it scales as a flatMap, no Python.
    """
    return df.select(
        "media_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(octet_length(blob) div"
                f" {every_n_bytes}, 1)), i -> substring(blob,"
                f" (i - 1) * {every_n_bytes} + 1, {every_n_bytes}))"
            )
        ).alias("frame_no", "frame_bytes"),
    )


def multimodal_blob_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata over opaque blobs: sizes + content prefixes (hex/b64)."""
    media = documents_as_media(spark, sf_dir)
    return media.select(
        "media_id",
        "media_type",
        "n_bytes",
        # prefix of the hex dump (DuckDB cannot substring a BLOB directly)
        F.lower(F.substring(F.hex(F.col("blob")), 1, 16)).alias("hex_prefix"),
        F.get_json_object("meta", "$.lang").alias("lang"),
    )


def multimodal_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling end-to-end with a value oracle: every 64-byte
    frame of every blob with its length and content prefix — proves the
    sequence+explode framing (the video-frame-extraction plumbing)
    produces exactly the bytes a SQL engine slices from the hex dump."""
    frames = frame_sample(documents_as_media(spark, sf_dir), every_n_bytes=64)
    return frames.select(
        "media_id",
        (F.col("frame_no") + 1).cast("bigint").alias("frame_no"),
        F.octet_length("frame_bytes").cast("bigint").alias("frame_len"),
        F.lower(F.substring(F.hex(F.col("frame_bytes")), 1, 8)).alias("frame_prefix"),
    )


def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode + feature extraction, value-checked against
    SQL: synthesize format-valid P6 PPM blobs from document bytes
    (``documents_as_ppm``), parse them with the genuine byte-level
    ``decode_ppm`` parser inside an Arrow-batched mapInPandas, and
    report per-image channel statistics plus the BT.709 mean luma
    (integer-scaled).  The DuckDB oracle recomputes the same statistics
    from the hex dump using the GENERATOR's layout — the decoder never
    sees those invariants, it parses the header like any PPM reader —
    which is the golden-file correctness harness a production codec
    path gets.  (Compressed formats stay gated in ``decode_image``:
    no PIL/cv2 in this container.)
    """
    feats = extract_image_features(documents_as_ppm(spark, sf_dir))
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_pix",
        "sum_r",
        "sum_g",
        "sum_b",
        F.expr("luma_sum div n_pix").alias("mean_luma_scaled"),
    )


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode + feature extraction, value-checked against
    SQL: synthesize byte-exact RIFF/WAVE PCM blobs
    (``documents_as_wav``), parse them with the genuine chunk-walking
    ``decode_wav`` parser inside Arrow-batched mapInPandas, and report
    per-clip integer statistics: sample count/rate, signed sum, energy
    (Σs² div n — the integer RMS proxy) and peak amplitude.  The
    DuckDB oracle replays the GENERATOR's waveform arithmetic; the
    decoder never sees it — it walks the actual binary container like
    any WAV reader.  Completes the media triplet: image decode (PPM),
    video-style frame sampling, audio decode (WAV).
    """
    feats = extract_audio_features(documents_as_wav(spark, sf_dir))
    return feats.select(
        "media_id",
        "n_samples",
        "sample_rate",
        "sum_s",
        "peak",
        F.expr("sq_sum div n_samples").alias("energy"),
    )


def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENERGY SEGMENTATION of decoded audio — the VAD (voice-activity-
    detection) pipeline shape: decode the RIFF/WAVE container (the
    genuine chunk walker, inside Arrow-batched mapInPandas), frame the
    PCM stream into fixed ``_SEG_FRAME``-sample windows, compute exact
    per-frame energies Σs², threshold each clip against its own mean
    frame energy (truncating div), and merge consecutive active frames
    into maximal segments via gaps-and-islands — per segment: start/end
    frame, length, energy mass, and the clip's threshold.  This is the
    temporal-segmentation verb the media set was missing (decode /
    features / resize / frame-sample / THIS); a production VAD swaps
    the energy rule for a model score, the topology is identical.

    The DuckDB oracle replays the GENERATOR's waveform arithmetic
    (the ``multimodal_audio_features`` precedent) — the Spark side
    never sees it, it parses the actual binary container.

    Scale: decode+framing is one Arrow map over the blobs (no
    shuffle); the threshold is a per-clip aggregate and the island
    grouping a per-clip window over ≤⌈n/frame⌉ rows — partitions are
    CLIP-bounded, never corpus-bounded.
    """
    fr = extract_audio_frame_energies(
        documents_as_wav(spark, sf_dir)
    ).select(
        "media_id", F.posexplode("energies").alias("frame_no", "energy")
    )
    thr = fr.groupBy("media_id").agg(
        F.expr("sum(energy) div count(*)").alias("thr_energy")
    )
    act = fr.join(thr, "media_id").where(
        F.col("energy") > F.col("thr_energy")
    )
    w = Window.partitionBy("media_id").orderBy("frame_no")
    grp = act.withColumn(
        "g", F.col("frame_no") - F.row_number().over(w)
    )
    return (
        grp.groupBy("media_id", "g")
        .agg(
            F.min("frame_no").alias("seg_start"),
            F.max("frame_no").alias("seg_end"),
            F.count("*").alias("n_frames"),
            F.sum("energy").alias("seg_energy"),
            F.first("thr_energy").alias("thr_energy"),
        )
        .drop("g")
    )


def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, value-checked against SQL: 2× box-downsample
    of the synthesized P6 images inside Arrow-batched mapInPandas
    (``resize_box2`` — decode, reshape, floor-average 2×2 blocks) with
    per-channel sums of the RESIZED pixels.  The oracle replays the
    downsample arithmetic from the generator's hex layout.  With
    decode, feature-extract, frame-sample and audio decode this
    closes the full media-verb set.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pd.DataFrame([resize_box2(b) for b in pdf["blob"]])
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return documents_as_ppm(spark, sf_dir).mapInPandas(
        _batches,
        "media_id long, r_width long, r_height long,"
        " rsum_r long, rsum_g long, rsum_b long",
    )


QUERIES = {
    "multimodal_blob_metadata": multimodal_blob_metadata,
    "multimodal_frame_stats": multimodal_frame_stats,
    "multimodal_feature_extract": multimodal_feature_extract,
    "multimodal_audio_features": multimodal_audio_features,
    "multimodal_audio_segments": multimodal_audio_segments,
    "multimodal_resize_stats": multimodal_resize_stats,
}

ORACLES = {
    "multimodal_frame_stats": """
        WITH media AS (
            SELECT doc_id AS media_id,
                   hex(encode(text)) AS hexd,
                   octet_length(encode(text))::BIGINT AS n_bytes
            FROM documents
        ),
        frames AS (
            SELECT media_id,
                   i.i AS frame_no,
                   substr(hexd, (i.i - 1) * 128 + 1, 128) AS frame_hex
            FROM media, LATERAL (
                SELECT unnest(generate_series(1,
                           greatest(n_bytes // 64, 1))) AS i
            ) i
        )
        SELECT media_id, frame_no,
               (length(frame_hex) // 2)::BIGINT AS frame_len,
               lower(substr(frame_hex, 1, 8)) AS frame_prefix
        FROM frames
    """,
    "multimodal_feature_extract": """
        -- recompute the decoded-pixel statistics from the GENERATOR's
        -- layout (header 'P6\\n{w} {h}\\n255\\n' + text bytes cycled to
        -- w*h*3): the engine-side decoder parses the actual binary
        -- header; this oracle replays the construction arithmetic.
        WITH m AS (
            SELECT doc_id AS media_id,
                   (2 + doc_id % 8)::BIGINT AS w,
                   (2 + (doc_id // 8) % 8)::BIGINT AS h,
                   CASE WHEN length(text) = 0 THEN '30'
                        ELSE hex(encode(text)) END AS src
            FROM documents
        ),
        px AS (
            SELECT media_id, w, h, (w * h)::BIGINT AS n_pix,
                   substr(repeat(src,
                              ((w * h * 6 + length(src) - 1)
                               // length(src))::INT),
                          1, (w * h * 6)::INT) AS pixhex
            FROM m
        ),
        sums AS (
            SELECT media_id, w, h, n_pix,
                   list_sum(list_transform(range(0, n_pix), i ->
                       ('0x' || substr(pixhex, (i * 6 + 1)::INT, 2))::BIGINT
                   ))::BIGINT AS sum_r,
                   list_sum(list_transform(range(0, n_pix), i ->
                       ('0x' || substr(pixhex, (i * 6 + 3)::INT, 2))::BIGINT
                   ))::BIGINT AS sum_g,
                   list_sum(list_transform(range(0, n_pix), i ->
                       ('0x' || substr(pixhex, (i * 6 + 5)::INT, 2))::BIGINT
                   ))::BIGINT AS sum_b
            FROM px
        )
        SELECT media_id, w AS width, h AS height, n_pix,
               sum_r, sum_g, sum_b,
               ((2126 * sum_r + 7152 * sum_g + 722 * sum_b) // n_pix)::BIGINT
                   AS mean_luma_scaled
        FROM sums
    """,
    "multimodal_blob_metadata": """
        WITH media AS (
            SELECT doc_id AS media_id,
                   'text/plain' AS media_type,
                   encode(text) AS blob,
                   octet_length(encode(text))::BIGINT AS n_bytes,
                   lang
            FROM documents
        )
        SELECT media_id, media_type, n_bytes,
               lower(substr(hex(blob), 1, 16)) AS hex_prefix,
               lang
        FROM media
    """,
}

# Audio decode oracle: replays the generator waveform arithmetic
# (v_i = (doc_id*31 + i*17) mod 65536, signed-16 interpretation);
# the engine-side decoder parses the real RIFF container instead.
ORACLES["multimodal_audio_features"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id, (16 + doc_id % 64)::BIGINT AS n
        FROM documents
    ),
    s AS (
        SELECT media_id, n,
               list_transform(range(0, n::INT), i ->
                   CASE WHEN (media_id * 31 + i * 17) % 65536 >= 32768
                        THEN (media_id * 31 + i * 17) % 65536 - 65536
                        ELSE (media_id * 31 + i * 17) % 65536 END
               ) AS sig
        FROM m
    )
    SELECT media_id, n AS n_samples, {_WAV_RATE}::BIGINT AS sample_rate,
           list_sum(sig)::BIGINT AS sum_s,
           list_max(list_transform(sig, x -> abs(x)))::BIGINT AS peak,
           (list_sum(list_transform(sig, x -> x * x))::BIGINT // n)::BIGINT
               AS energy
    FROM s
"""

# Energy segmentation: generator-replayed frames → per-clip mean
# threshold → gaps-and-islands, mirroring the Spark topology exactly.
ORACLES["multimodal_audio_segments"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id, (16 + doc_id % 64)::BIGINT AS n
        FROM documents
    ),
    s AS (
        SELECT media_id, n,
               list_transform(range(0, n::INT), i ->
                   CASE WHEN (media_id * 31 + i * 17) % 65536 >= 32768
                        THEN (media_id * 31 + i * 17) % 65536 - 65536
                        ELSE (media_id * 31 + i * 17) % 65536 END
               ) AS sig
        FROM m
    ),
    fr AS (
        SELECT media_id,
               unnest(range(0, ((n + {_SEG_FRAME} - 1)
                               // {_SEG_FRAME})::INT))::BIGINT AS frame_no,
               unnest(list_transform(
                   range(0, ((n + {_SEG_FRAME} - 1) // {_SEG_FRAME})::INT),
                   f -> list_sum(list_transform(
                            list_slice(sig, (f * {_SEG_FRAME} + 1)::INT,
                                       least((f + 1) * {_SEG_FRAME},
                                             n)::INT),
                            x -> x * x))))::BIGINT AS energy
        FROM s
    ),
    thr AS (
        SELECT media_id, (sum(energy) // count(*))::BIGINT AS thr_energy
        FROM fr GROUP BY 1
    ),
    act AS (
        SELECT f.media_id, f.frame_no, f.energy, t.thr_energy
        FROM fr f JOIN thr t USING (media_id)
        WHERE f.energy > t.thr_energy
    ),
    grp AS (
        SELECT *, frame_no - row_number() OVER (
                      PARTITION BY media_id ORDER BY frame_no) AS g
        FROM act
    )
    SELECT media_id,
           min(frame_no)::BIGINT AS seg_start,
           max(frame_no)::BIGINT AS seg_end,
           count(*)::BIGINT AS n_frames,
           sum(energy)::BIGINT AS seg_energy,
           any_value(thr_energy)::BIGINT AS thr_energy
    FROM grp GROUP BY media_id, g
"""


def _resize_ch_sum(ch: int) -> str:
    """Per-channel resized-pixel sum: floor-average of each 2×2 source
    block, replayed from the generator's hex layout."""

    def px(roff: int, coff: int) -> str:
        return (
            f"('0x' || substr(pixhex, (((2 * (k // rw) + {roff}) * w"
            f" + 2 * (k % rw) + {coff}) * 6 + {ch * 2} + 1)::INT,"
            " 2))::BIGINT"
        )

    return (
        "list_sum(list_transform(range(0, (rw * rh)::INT), k -> ("
        + " + ".join([px(0, 0), px(0, 1), px(1, 0), px(1, 1)])
        + ") // 4))::BIGINT"
    )


ORACLES["multimodal_resize_stats"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               (2 + doc_id % 8)::BIGINT AS w,
               (2 + (doc_id // 8) % 8)::BIGINT AS h,
               CASE WHEN length(text) = 0 THEN '30'
                    ELSE hex(encode(text)) END AS src
        FROM documents
    ),
    px AS (
        SELECT media_id, w, h,
               (w // 2)::BIGINT AS rw, (h // 2)::BIGINT AS rh,
               substr(repeat(src,
                          ((w * h * 6 + length(src) - 1)
                           // length(src))::INT),
                      1, (w * h * 6)::INT) AS pixhex
        FROM m
    )
    SELECT media_id, rw AS r_width, rh AS r_height,
           {_resize_ch_sum(0)} AS rsum_r,
           {_resize_ch_sum(1)} AS rsum_g,
           {_resize_ch_sum(2)} AS rsum_b
    FROM px
"""
