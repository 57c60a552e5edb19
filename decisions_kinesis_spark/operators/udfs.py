"""UDF surface (SURVEY.md §2: the reference's extension point is the
host platform's handler flows; this engine's equivalents).

Demonstrates every Python extension tier with the fast (Arrow) paths:

- scalar ``pandas_udf``       — vectorized per-batch column math;
- ``applyInPandas``           — per-group transforms (see operators/asof);
- ``mapInPandas``             — per-partition batch streams (see
                                operators/multimodal);
- ``foreachBatch``            — sink-side dispatch (see streaming/runtime);
- Python ``udtf``             — Arrow-optimized table function
                                (row-GENERATING extension tier, new in
                                Spark 4) — ``udtf_chunk_documents``.

Row-at-a-time Python UDFs are deliberately absent — they are the slow
path (SURVEY.md §4) and nothing in the surface needs them.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from decisions_kinesis_spark.operators.textops import _DUCK_TOKS
from decisions_kinesis_spark.session import once
from decisions_kinesis_spark.sources.tables import load_table


@F.pandas_udf(T.DoubleType())
def log_engagement(value: pd.Series) -> pd.Series:
    """Vectorized scoring: 2·ln(1+value) over Arrow batches."""
    import numpy as np

    return 2.0 * np.log1p(value)


def pandas_udf_engagement_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Pandas-UDF demo with a value-checked SQL oracle.

    Scale note: this is the pattern for math that genuinely needs
    numpy/scipy; for anything expressible in ``pyspark.sql.functions``
    (like this toy formula) the built-in stays JVM-side and ~10× faster
    — which is why every other operator in this engine avoids UDFs.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("event_type") == "view")
    return ev.select(
        "event_id",
        "user_id",
        F.round(log_engagement(F.col("value")), 6).alias("engagement"),
    )


@F.pandas_udf(T.DoubleType())
def rms_value(value: pd.Series) -> float:
    """Grouped-aggregate Pandas UDF (Series → scalar): RMS of the
    group's values — the UDAF extension tier, Arrow-batched."""
    import numpy as np

    return float(np.sqrt(np.mean(np.square(value.to_numpy()))))


def pandas_udaf_user_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG Pandas-UDF tier with a value-checked SQL oracle:
    per-user RMS of purchase values.  Scale: partial aggregation is NOT
    available for pandas UDAFs (full shuffle of the group's rows) — the
    honest trade documented here; sum-decomposable stats should use
    built-ins (see agg_stats_suite)."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    # NOTE pandas UDAFs cannot mix with non-pandas aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT) — single-UDAF projection
    return ev.groupBy("user_id").agg(
        F.round(rms_value(F.col("value")), 6).alias("rms_value"),
    )


def _minmax_norm_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group min-max normalization (grouped-map applyInPandas tier).

    Min-max (not z-score) keeps the math exactly reproducible: min/max
    are order-independent, so the SQL oracle computes identical values
    — a z-score's variance sum would differ in last-ulp by summation
    order."""
    lo = pdf["value"].min()
    hi = pdf["value"].max()
    span = hi - lo
    out = pdf[["user_id", "event_id"]].copy()
    if span == 0:
        out["norm_value"] = 0.0
    else:
        out["norm_value"] = ((pdf["value"] - lo) / span).round(6)
    return out


def pandas_grouped_map_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-user min-max normalization of
    purchase values — the per-group transform tier (whole group as one
    pandas frame), Arrow-batched, shuffled once on the group key.

    Like the UDTF demos, this runs on a documented 10% user slice:
    applyInPandas invokes the Python function ONCE PER GROUP, so with
    tiny per-user groups the cost is per-call overhead × |users| —
    the slice proves the tier end-to-end without paying that overhead
    on every user (and the docstring trade stands: min-max per group
    is also expressible JVM-side as a windowed min/max, which is what
    a hot path should use)."""
    ev = load_table(spark, "events", sf_dir).filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 10 == 7)
    )
    return (
        ev.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(
            _minmax_norm_group,
            "user_id long, event_id long, norm_value double",
        )
    )


_CHUNK_W = 32  # tokens per chunk
_CHUNK_S = 24  # stride (8-token overlap)

#: The engine-wide tokenizer splits on JVM-regex ``\s+`` — the ASCII
#: whitespace class [ \t\n\x0b\f\r], NOT Unicode whitespace.  Python's
#: ``str.split()`` breaks on every Unicode space (U+00A0, U+2003, …),
#: so the UDTF tier must use this explicit class or its chunks drift
#: from the JVM/DuckDB operators on non-ASCII-whitespace text.
_ASCII_WS = re.compile(r"[\t\n\x0b\x0c\r ]+")


@F.udtf(
    returnType=(
        "chunk_id int, n_tokens int, first_tok string, last_tok string"
    ),
    useArrow=True,
)
class _ChunkUdtf:
    """Overlapping-window chunker as a Python UDTF — the
    row-GENERATING extension tier (Spark 4), Arrow-optimized
    (plan shows ArrowEvalPythonUDTF, not BatchEvalPython).  Yields
    one row per chunk: width _CHUNK_W, stride _CHUNK_S, final
    partial chunk kept (the text_chunk_documents policy)."""

    def eval(self, text):  # noqa: D102 - contract in class doc
        # Case folding is Python str.lower(), matching the engine's
        # lower(text) tokenizer discipline (Spark lower / DuckDB
        # lower) on ASCII and the common Unicode ranges (Latin-1/
        # Greek/Cyrillic simple mappings — test-pinned).  KNOWN
        # exotic divergences, accepted and documented like the
        # ASCII-whitespace rule above: U+0130 'İ' (Python/Java fold
        # to 'i'+combining dot, some libs to bare 'i') and Greek
        # final-sigma context sensitivity (Python/Java contextual,
        # utf8proc per-codepoint).  Fixtures and the documents
        # corpus contain neither; a tokenizer that must process
        # such text belongs behind one shared fold rule first.
        toks = [t for t in _ASCII_WS.split((text or "").lower()) if t]
        i = cid = 0
        while i < len(toks):
            c = toks[i : i + _CHUNK_W]
            yield cid, len(c), c[0], c[-1]
            if i + _CHUNK_W >= len(toks):
                break
            i += _CHUNK_S
            cid += 1



def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python-UDTF tier demo with a value-checked oracle: lateral-join
    the Arrow-optimized chunking table function against a 5% document
    slice and return every chunk's shape (id, token count, boundary
    tokens).

    Scale note: like every Python tier here, this is the pattern for
    logic that genuinely needs imperative Python (a real tokenizer, a
    parser); THIS particular chunking is also expressible in pure
    Column algebra (``text_chunk_documents``), which stays JVM-side
    and faster — the UDTF exists to prove the extension tier end-to-
    end (lateral join, Arrow batches, deterministic output).
    """
    docs = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") % 20 == 0)
        .select("doc_id", "text")
    )
    docs.createOrReplaceTempView("_udtf_chunk_docs")
    name = "dks_chunk_udtf"
    once(spark, name, lambda: spark.udtf.register(name, _ChunkUdtf))
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.n_tokens, c.first_tok, c.last_tok
        FROM _udtf_chunk_docs d, LATERAL dks_chunk_udtf(d.text) c
        """
    )


_SESS_GAP_S = 1800  # 30-minute inactivity gap
_SESS_GAP_US = _SESS_GAP_S * 1_000_000

import datetime as _dt_mod  # noqa: E402 - UDTF arithmetic unit

#: One microsecond, for exact integer timedelta division in UDTFs.
_US = _dt_mod.timedelta(microseconds=1)


@F.udtf(
    returnType=(
        "user_id bigint, event_id bigint, session_id int,"
        " session_event_idx int"
    ),
    useArrow=True,
)
class _SessionizeUdtf:
    """PER-PARTITION STATEFUL Python UDTF (the TABLE-argument +
    PARTITION BY form): each instance receives ONE user's events
    in (ts, event_id) order and carries running state across rows
    — the imperative-sessionization shape that
    ``applyInPandasWithState`` serves in streaming, here as the
    batch table-function tier."""

    def __init__(self):
        self._prev = None
        self._sid = 0
        self._idx = 0

    def eval(self, row):  # noqa: D102 - contract in class doc
        import datetime as _dt

        ts = row["ts"]
        # exact timedelta compare (not float total_seconds): the
        # oracle replays the same boundary at integer microseconds
        if (
            self._prev is not None
            and (ts - self._prev)
            > _dt.timedelta(seconds=_SESS_GAP_S)
        ):
            self._sid += 1
            self._idx = 0
        self._idx += 1
        self._prev = ts
        yield row["user_id"], row["event_id"], self._sid, self._idx


@F.udtf(
    returnType=(
        "user_id bigint, win_start timestamp, n_events int,"
        " max_gap_us bigint, longest_up_run int"
    ),
    useArrow=True,
)
class _WindowStatsUdtf:
    """WINDOWED stateful Python UDTF: PARTITION BY (user,
    event-time hour window) — each instance folds ONE window's
    ordered event stream and emits a single summary row from
    ``terminate()`` (the aggregate-shaped table-function form,
    completing the tier enumeration: per-row lateral →
    per-partition stream → per-window fold)."""

    def __init__(self):
        self._key = None
        self._n = 0
        self._prev_ts = None
        self._prev_val = None
        self._max_gap = 0
        self._run = 0
        self._best_run = 0

    def eval(self, row):  # noqa: D102 - contract in class doc
        self._key = (row["user_id"], row["win_start"])
        self._n += 1
        if self._prev_ts is not None:
            gap = (row["ts"] - self._prev_ts) // _US
            if gap > self._max_gap:
                self._max_gap = gap
        # NULL semantics (declared, mirrored in the oracle): a
        # NULL value can never be part of a strictly-increasing
        # run — it breaks the current run and stands as its own
        # length-1 run; the next row starts fresh.
        v = row["value"]
        if (
            v is not None
            and self._prev_val is not None
            and v > self._prev_val
        ):
            self._run += 1
        else:
            self._run = 1
        if self._run > self._best_run:
            self._best_run = self._run
        self._prev_ts = row["ts"]
        self._prev_val = row["value"]

    def terminate(self):  # noqa: D102 - one summary row per window
        if self._key is not None:
            yield (
                self._key[0],
                self._key[1],
                self._n,
                self._max_gap,
                self._best_run,
            )


def udtf_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed-UDTF demo with a value-checked oracle: per (user,
    event-time hour window) on a 10% user slice, the event count, the
    maximum inter-event gap (exact integer microseconds), and the
    longest strictly-increasing value run — computed imperatively by a
    per-window UDTF instance whose partition key INCLUDES the
    event-time window (``PARTITION BY (user_id, win_start)``).

    The oracle replays the identical fold relationally (lag diffs +
    run-id prefix sums).  Scale: one (user, window)-keyed shuffle,
    Arrow row stream per partition, O(1) state per window — the batch
    dual of a watermarked streaming window aggregate.
    """
    from decisions_kinesis_spark.functions.parallel import repartition_for_python

    # the UDTF eval loop is the cost here; pre-partition by the UDTF's
    # own key at Python-stage width (REPARTITION_BY_NUM — AQE's
    # bytes-based coalescing otherwise squeezes the eval onto 1-3
    # cores; no second exchange appears, the clustered distribution is
    # already satisfied — see functions/parallel.py)
    ev = repartition_for_python(
        load_table(spark, "events", sf_dir)
        .where(F.col("user_id") % 10 == 3)
        .select(
            "user_id",
            "event_id",
            "ts",
            "value",
            F.date_trunc("HOUR", "ts").alias("win_start"),
        ),
        "user_id",
        "win_start",
    )
    ev.createOrReplaceTempView("_udtf_win_events")
    name = "dks_window_stats_udtf"
    once(spark, name, lambda: spark.udtf.register(name, _WindowStatsUdtf))
    return spark.sql(
        """
        SELECT * FROM dks_window_stats_udtf(
            TABLE(SELECT user_id, event_id, ts, value, win_start
                  FROM _udtf_win_events)
            PARTITION BY (user_id, win_start) ORDER BY (ts, event_id)
        )
        """
    )


def udtf_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE-argument UDTF demo with a value-checked oracle: assign
    30-minute-gap session ids and within-session indexes to a 10%
    user slice, with the per-user state living in ordinary Python
    attributes — Spark partitions BY USER and orders each partition
    stream for the UDTF (``PARTITION BY … ORDER BY (…)``), so the
    imperative code never sees out-of-order rows.

    The oracle replays the identical semantics relationally (gap-flag
    cumulative sum + row_number) — the same dual the streaming
    sessionizer proves.  Scale: one user-keyed shuffle, Arrow row
    stream per partition; state is O(1) per user.
    """
    from decisions_kinesis_spark.functions.parallel import repartition_for_python

    # Python-stage-width pre-partition by the UDTF key (see
    # udtf_window_stats / functions/parallel.py)
    ev = repartition_for_python(
        load_table(spark, "events", sf_dir)
        .where(F.col("user_id") % 10 == 0)
        .select("user_id", "event_id", "ts"),
        "user_id",
    )
    ev.createOrReplaceTempView("_udtf_sess_events")
    name = "dks_sessionize_udtf"
    once(spark, name, lambda: spark.udtf.register(name, _SessionizeUdtf))
    return spark.sql(
        """
        SELECT * FROM dks_sessionize_udtf(
            TABLE(SELECT user_id, event_id, ts FROM _udtf_sess_events)
            PARTITION BY user_id ORDER BY (ts, event_id)
        )
        """
    )


def _doc_stats_arrow_batches(batches):
    """RecordBatch → RecordBatch byte/char/regex stats, entirely in
    Arrow compute kernels — no pandas materialization, no per-row
    Python.  Yields one output batch per input batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        doc_id = b.column(b.schema.get_field_index("doc_id"))
        text = b.column(b.schema.get_field_index("text"))
        yield pa.RecordBatch.from_arrays(
            [
                doc_id,
                pc.cast(pc.binary_length(text), pa.int64()),
                pc.cast(pc.utf8_length(text), pa.int64()),
                pc.cast(pc.count_substring(text, " "), pa.int64()),
                pc.cast(pc.count_substring_regex(text, "[A-Z]"), pa.int64()),
            ],
            names=["doc_id", "n_bytes", "n_chars", "n_spaces", "n_upper"],
        )


def arrow_map_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` tier demo with a value-checked oracle: per-doc
    UTF-8 byte length, character length, space count, and ASCII-upper
    count, computed by Arrow compute kernels over raw ``RecordBatch``
    streams — the LOWEST-level Python extension tier (below
    ``mapInPandas``: no pandas conversion at all), completing the
    enumeration scalar-pandas → UDAF → grouped-map → mapInPandas →
    mapInArrow → UDTF.

    Determinism: every stat is an exact integer; the regex class
    ``[A-Z]`` is ASCII-only and both engines run RE2-family engines,
    so counts agree on any input (n_bytes ≠ n_chars on non-ASCII text
    — the fixture case).

    Scale: a narrow per-partition map — no shuffle, no state; the
    scan is pruned to (doc_id, text) and batches stream through Arrow
    without a pandas copy, so memory is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` regardless of
    corpus size.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return docs.mapInArrow(
        _doc_stats_arrow_batches,
        "doc_id bigint, n_bytes bigint, n_chars bigint,"
        " n_spaces bigint, n_upper bigint",
    )


QUERIES = {
    "arrow_map_doc_stats": arrow_map_doc_stats,
    "udtf_chunk_documents": udtf_chunk_documents,
    "udtf_sessionize_stateful": udtf_sessionize_stateful,
    "udtf_window_stats": udtf_window_stats,
    "pandas_udf_engagement_score": pandas_udf_engagement_score,
    "pandas_udaf_user_rms": pandas_udaf_user_rms,
    "pandas_grouped_map_minmax": pandas_grouped_map_minmax,
}

ORACLES = {
    "arrow_map_doc_stats": """
        SELECT doc_id,
               strlen(text)::BIGINT AS n_bytes,
               length(text)::BIGINT AS n_chars,
               (length(text) - length(replace(text, ' ', '')))::BIGINT
                   AS n_spaces,
               length(regexp_replace(text, '[^A-Z]', '', 'g'))::BIGINT
                   AS n_upper
        FROM documents
    """,
    "pandas_grouped_map_minmax": """
        WITH p AS (
            SELECT user_id, event_id, value FROM events
            WHERE event_type = 'purchase' AND user_id % 10 = 7
        ),
        mm AS (
            SELECT user_id, min(value) AS lo, max(value) AS hi
            FROM p GROUP BY user_id
        )
        SELECT p.user_id, p.event_id,
               CASE WHEN hi = lo THEN 0.0
                    ELSE round((value - lo) / (hi - lo), 6) END AS norm_value
        FROM p JOIN mm ON p.user_id = mm.user_id
    """,
    "pandas_udaf_user_rms": """
        SELECT user_id,
               round(sqrt(avg(value * value)), 6) AS rms_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
    """,
    "pandas_udf_engagement_score": """
        SELECT event_id, user_id,
               round(2.0 * ln(1.0 + value), 6) AS engagement
        FROM events
        WHERE event_type = 'view'
    """,
}


ORACLES["udtf_chunk_documents"] = f"""
    WITH d AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks
        FROM documents WHERE doc_id % 20 = 0
    ),
    nz AS (
        SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) >= 1
    ),
    ks AS (
        SELECT doc_id, toks, n,
               unnest(generate_series(0,
                   CASE WHEN n <= {_CHUNK_W} THEN 0
                        ELSE (n - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S}
                   END)) AS k
        FROM nz
    )
    SELECT doc_id, k::INT AS chunk_id,
           (least(k * {_CHUNK_S} + {_CHUNK_W}, n) - k * {_CHUNK_S})::INT
               AS n_tokens,
           toks[k * {_CHUNK_S} + 1] AS first_tok,
           toks[least(k * {_CHUNK_S} + {_CHUNK_W}, n)] AS last_tok
    FROM ks
"""


ORACLES["udtf_window_stats"] = """
    WITH ev AS (
        SELECT user_id, event_id, ts, value,
               date_trunc('hour', ts) AS win_start
        FROM events WHERE user_id % 10 = 3
    ),
    d AS (
        SELECT user_id, event_id, ts, value, win_start,
               lag(ts) OVER w AS pts,
               CASE WHEN value IS NULL
                         OR lag(value) OVER w IS NULL
                         OR value <= lag(value) OVER w
                    THEN 1 ELSE 0 END AS brk
        FROM ev
        WINDOW w AS (PARTITION BY user_id, win_start ORDER BY ts, event_id)
    ),
    r AS (
        SELECT user_id, win_start,
               sum(brk) OVER (
                   PARTITION BY user_id, win_start ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS run_id
        FROM d
    ),
    runs AS (
        SELECT user_id, win_start, run_id, count(*) AS rl
        FROM r GROUP BY user_id, win_start, run_id
    ),
    gaps AS (
        SELECT user_id, win_start, count(*)::INT AS n_events,
               coalesce(max(epoch_us(ts) - epoch_us(pts)), 0)::BIGINT
                   AS max_gap_us
        FROM d GROUP BY user_id, win_start
    ),
    best AS (
        SELECT user_id, win_start, max(rl)::INT AS longest_up_run
        FROM runs GROUP BY user_id, win_start
    )
    SELECT g.user_id, g.win_start, g.n_events, g.max_gap_us,
           b.longest_up_run
    FROM gaps g JOIN best b USING (user_id, win_start)
"""


ORACLES["udtf_sessionize_stateful"] = f"""
    WITH ev AS (
        SELECT user_id, event_id, ts FROM events WHERE user_id % 10 = 0
    ),
    flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NOT NULL
                         AND epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             > {_SESS_GAP_US}
                    THEN 1 ELSE 0 END AS new_sess
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_id,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::INT AS session_id,
               ts
        FROM flagged
    )
    SELECT user_id, event_id, session_id,
           row_number() OVER (
               PARTITION BY user_id, session_id ORDER BY ts, event_id
           )::INT AS session_event_idx
    FROM sess
"""
