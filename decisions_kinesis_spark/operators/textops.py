"""Text-analysis operators for training-data pipelines (SURVEY.md §7 M6).

Language-ID (stopword heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and winnowing-style document
fingerprints — all pure Column expressions (codegen'd, shuffle-free
per-row transforms: they run at scan speed at any corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from decisions_kinesis_spark.functions.parallel import (
    ensure_parallelism,
    materialize,
    materialize_many,
)
from decisions_kinesis_spark.sources.tables import load_table

#: Tokenize: lowercase, split on whitespace, drop empties — the one
#: definition for every module (``_DUCK_TOKS`` is the DuckDB twin).
_TOKS = r"filter(split(lower(text), '\\s+'), x -> x != '')"

#: ASCII-only word/punct tokenizer — identical regex semantics in both
#: engines (avoids \w unicode-class differences).
_BPE_PAT = "[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n]"

_EN_STOP = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")
_STOP_SQL = ", ".join(f"'{w}'" for w in _EN_STOP)

_BIGHASH = "cast(conv(substring(md5({e}), 1, 15), 16, 10) as bigint)"


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, avg token
    length, BPE-ish regex token count."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.withColumn("toks", F.expr(_TOKS)).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.expr("size(array_distinct(toks))").cast("bigint").alias("n_distinct"),
        F.round(
            F.expr("aggregate(toks, cast(0 as bigint), (a, x) -> a + length(x))")
            / F.size("toks"),
            4,
        ).alias("avg_token_len"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: English stopword ratio vs threshold,
    compared against the labeled ``lang`` column."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.withColumn("toks", F.expr(_TOKS))
        .withColumn(
            "en_ratio",
            F.round(
                F.expr(f"size(filter(toks, x -> x in ({_STOP_SQL})))")
                / F.size("toks"),
                4,
            ),
        )
        .select(
            "doc_id",
            "en_ratio",
            F.when(F.col("en_ratio") >= 0.05, F.lit("en"))
            .otherwise(F.lit("unk"))
            .alias("pred_lang"),
            "lang",
        )
    )


def with_quality_signals(docs: DataFrame) -> DataFrame:
    """Attach the pre-training quality signals (toks, n_tok, stop /
    punct / digit ratios) to a frame with a ``text`` column — shared by
    the standalone score query and the composed cleaning pipeline."""
    n_chars = F.length("text").cast("double")
    punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", "")).cast("double")
    digits = F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("double")
    return (
        docs.withColumn("toks", F.expr(_TOKS))
        .withColumn("n_tok", F.size("toks").cast("double"))
        .withColumn(
            "stop_ratio",
            F.expr(f"size(filter(toks, x -> x in ({_STOP_SQL})))") / F.col("n_tok"),
        )
        .withColumn("punct_ratio", punct / n_chars)
        .withColumn("digit_ratio", digits / n_chars)
        # floor-based round: Spark round() is HALF_UP, DuckDB's is
        # HALF_EVEN — floor(x*1e4 + 0.5)/1e4 is the same IEEE op
        # sequence in both engines, so half-way cases agree.
        .withColumn(
            "quality",
            F.floor(
                (
                    F.lit(0.4) * F.col("stop_ratio")
                    + F.lit(0.3) * F.least(F.col("n_tok") / 100.0, F.lit(1.0))
                    + F.lit(0.3) * (F.lit(1.0) - F.col("punct_ratio"))
                )
                * 10000
                + F.lit(0.5)
            )
            / 10000.0,
        )
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score from length / punctuation / stopword /
    token-shape signals (the usual pre-training heuristics)."""
    docs = load_table(spark, "documents", sf_dir)
    return with_quality_signals(docs).select(
        "doc_id",
        F.round("stop_ratio", 4).alias("stop_ratio"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("digit_ratio", 4).alias("digit_ratio"),
        "quality",
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprints: min hash over all char-8-gram
    positions — the rolling-hash document signature.

    One md5 per position; the two independent 60-bit fingerprints are
    disjoint slices of the same digest (hex chars 1-15 and 17-31),
    halving hash work vs one digest per seed.
    """
    from decisions_kinesis_spark.functions.parallel import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, "documents", sf_dir))
    out = docs.withColumn("t", F.lower("text")).withColumn(
        "ms",
        F.expr(
            "transform(sequence(1, greatest(length(t) - 7, 1)),"
            " p -> md5(substring(t, p, 8)))"
        ),
    )
    return out.select(
        "doc_id",
        F.expr(
            "array_min(transform(ms, h ->"
            " cast(conv(substring(h, 1, 15), 16, 10) as bigint)))"
        ).alias("fp0"),
        F.expr(
            "array_min(transform(ms, h ->"
            " cast(conv(substring(h, 17, 15), 16, 10) as bigint)))"
        ).alias("fp1"),
    )


def text_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequencies: explode + count + deterministic top-20
    (the visible LATERAL VIEW / unnest operator)."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(F.expr(_TOKS)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


_IDF_SCALE = 1_000_000  # integer-scaled idf: (N·SCALE) div df — exact both engines


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by integer-scaled TF-IDF.

    idf is computed as ``(N_docs × 1e6) div doc_freq`` — INTEGER
    arithmetic, so the score (tf × idf_scaled) is exactly reproducible
    across engines (float log-idf would differ in last-ulp and flip
    rank ties).  Pipeline: explode→(doc,token) tf agg → token df agg →
    broadcast df back → per-doc window top-3.  Scale: both aggs shuffle
    on bounded keys (docs×distinct-tokens, vocabulary); the df frame is
    vocabulary-sized (broadcastable); ranking is one window over doc_id.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    tok = (
        docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    nd = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    df_t = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # df_t is vocabulary-sized: do NOT force-broadcast it (an open
    # vocabulary at corpus scale exceeds broadcast limits) — AQE
    # broadcasts it automatically when it fits, else shuffles on token.
    # nd is one row: always broadcast.
    scored = (
        tok.join(df_t, "token")
        .join(F.broadcast(nd))
        .withColumn(
            "score", F.expr(f"tf * ((n_docs * {_IDF_SCALE}) div df)")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tf", "df", "score", "rk")
    )


def text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact length quartiles (percentile with linear
    interpolation — the engine-agnostic continuous-quantile contract)
    plus min/max, over the documents table."""
    docs = load_table(spark, "documents", sf_dir).select("lang", "n_chars")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.75)"), 4).alias("p75"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_CHUNK = 64  # tokens per chunk
_STRIDE = 32  # overlap stride (half-window overlap)


def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the standard LLM-prep step
    that splits long documents into model-window pieces (64-token
    chunks, 32-token stride here).

    Scale: sequence+explode flatMap over the per-doc token array — a
    scan-side row multiplier with no shuffle; chunk count per doc is
    ceil(max(n-chunk,0)/stride)+1 so output size is linear in corpus
    tokens.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    t = docs.withColumn("toks", F.expr(_TOKS)).filter(F.expr("size(toks) > 0"))
    # chunk starts at 0, stride, 2·stride … until start+chunk covers the
    # doc: n_chunks = ceil(max(n-chunk,0)/stride) + 1
    over = f"greatest(size(toks) - {_CHUNK}, 0)"
    n_chunks = f"(cast(ceil({over} / {_STRIDE}.0) as int) + 1)"
    return t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_chunks} - 1), i ->"
                f" concat_ws(' ', slice(toks, i * {_STRIDE} + 1, {_CHUNK})))"
            )
        ).alias("chunk_no", "chunk_text"),
    ).withColumn(
        "n_chunk_tokens",
        F.expr("size(split(chunk_text, ' '))").cast("bigint"),
    )


_BIN_BUDGET = 512  # tokens per packed context bin


_PACK_SEGMENT = 10_000  # doc_ids per prefix-sum segment


def text_pack_context_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic context-window packing: docs are packed into
    token-budget bins per language in doc_id order — bin = floor of the
    EXCLUSIVE running token total / budget (first-fit in a canonical
    order, so the assignment is reproducible across engines, runs and
    partitionings).  Output: per-bin doc count + token total.

    Scale: the global running sum is computed HIERARCHICALLY — local
    cumsum within doc_id segments (bounded window partitions) plus a
    segment-offset prefix sum over the tiny (lang, segment) totals
    frame — so no single reducer ever sorts a whole language, yet the
    result is bit-identical to the naive global window (the oracle IS
    the naive global formulation).
    """
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
    t = docs.withColumn("n_tok", F.expr(f"size({_TOKS})").cast("bigint")).withColumn(
        "seg", F.expr(f"doc_id div {_PACK_SEGMENT}")
    )
    # tiny frame: one row per (lang, segment); its prefix-sum window is
    # over segment counts, not docs
    seg_off = (
        t.groupBy("lang", "seg")
        .agg(F.sum("n_tok").alias("seg_tok"))
        .withColumn(
            "seg_offset",
            F.coalesce(
                F.sum("seg_tok").over(
                    Window.partitionBy("lang")
                    .orderBy("seg")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("lang", "seg", "seg_offset")
    )
    w_local = (
        Window.partitionBy("lang", "seg")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = (
        t.withColumn("local_prev", F.coalesce(F.sum("n_tok").over(w_local), F.lit(0)))
        .join(F.broadcast(seg_off), ["lang", "seg"])
        .withColumn("cum_prev", F.col("seg_offset") + F.col("local_prev"))
        .withColumn("bin", F.expr(f"cum_prev div {_BIN_BUDGET}"))
    )
    return binned.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def text_redact_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style pattern redaction: digit runs and @-handles replaced
    with sentinels, with per-doc redaction counts — pure scan-side
    regexp work (the pre-training scrubbing pass)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    digit_runs = r"[0-9]+"
    handles = r"@[a-z0-9_]+"
    return docs.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(text, '{digit_runs}', 0))")
        .cast("bigint")
        .alias("n_digit_runs"),
        F.expr(f"size(regexp_extract_all(text, '{handles}', 0))")
        .cast("bigint")
        .alias("n_handles"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", digit_runs, "<NUM>"), handles, "<USER>"
            )
        ).alias("redacted_fp"),
    )


_SAMPLE_K = 50  # hash-ranked sample size per language


def sample_per_lang_hashrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per language, keep the K=50
    documents with the smallest md5-derived hash of doc_id — a seedable
    'random' sample that is REPRODUCIBLE across engines, runs, and
    cluster sizes (unlike rand()-based sampling), the standard way a
    training pipeline draws stable per-stratum eval subsets.

    Scale: the rank is a row_number window over lang — Spark's
    WindowGroupLimit inserts a PARTIAL per-partition top-K before the
    exchange, so only K·partitions rows shuffle per stratum, not the
    corpus.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    h = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        docs.withColumn("h", h)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _SAMPLE_K)
        .select("lang", "doc_id", "rk")
    )


_SPAN_N = 5  # dup-span n-gram width (Gopher/RefinedWeb quality signal)

_BM25_QUERY_TERMS = (
    (1, "spark"),
    (1, "join"),
    (2, "stream"),
    (2, "window"),
    (2, "batch"),
    (3, "slow"),
    (3, "fast"),
)
_BM25_TOPK = 10


def text_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span quality signal: per document, the fraction of its
    token 5-gram occurrences that are duplicated ANYWHERE in the corpus
    (including within the same document) — the Gopher/RefinedWeb
    "fraction of tokens in duplicate n-grams" filter used to score
    boilerplate and template text before training.

    Scale: grams are hashed to ONE bigint before the global count, so
    the vocabulary shuffle moves 8-byte keys, not strings; the count
    agg combines map-side, and the count→occurrence equi-join is the
    plan AQE can re-balance.  Docs shorter than the span width drop out
    (no spans to score) in both engines.
    """
    docs = ensure_parallelism(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    toks = docs.select("doc_id", F.expr(_TOKS).alias("toks")).filter(
        F.size("toks") >= _SPAN_N
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {_SPAN_N} + 1),"
                f" i -> array_join(slice(toks, i, {_SPAN_N}), ' '))"
            )
        ).alias("gram"),
    ).select("doc_id", F.expr(_BIGHASH.format(e="gram")).alias("g"))
    counts = grams.groupBy("g").agg(F.count("*").alias("cnt"))
    return (
        grams.join(counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count(F.when(F.col("cnt") > 1, F.lit(1))).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_fraction", F.round(F.col("n_dup_spans") / F.col("n_spans"), 4)
        )
    )


def retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75): top-10 documents per query for a
    fixed multi-term query set — the sparse-retrieval dual of the ANN
    family, the standard way a training pipeline mines topical subsets.

    Engine-exact scoring: idf is the integer-scaled BM25 form
    ``((2N−2df+1)·SCALE) div (2df+1)`` (the log is dropped for
    cross-engine exactness, same discipline as text_tfidf_topk); with
    k1=6/5 and b=3/4 the per-term score reduces to ONE double division
    of exact integer products, ``idf·22·tf·total / (10·tf·total +
    3·total + 9·dl·N)``, rounded to 4dp and summed as DECIMAL(18,4) so
    the per-document total is order-independent.

    Scale: one explode→(doc,term) pass; the query-term frame and the
    1-row corpus stats broadcast; tf/df aggs combine map-side; ranking
    is a per-query top-k window (WindowGroupLimit partial top-k).
    """
    # deliberately NO parallelism guard here: measured A/B at sf0.1
    # showed no win (the per-row explode is cheap relative to the
    # groupBy shuffles that follow immediately)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # tf/df_t/dl each replay the explode, and dl is read twice in the
    # scoring tail — materialize the token frame once and the three
    # (mutually independent) lexical inputs with overlapped jobs, the
    # retrieval_hybrid_rrf discipline (guide §2.4/§2.6)
    tok = materialize(
        docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("term"))
    )
    return _bm25_topk(*materialize_many(*_lex_inputs(tok)))


def _lex_inputs(tok: DataFrame):
    """Shared lexical-retrieval inputs from a (doc_id, term) frame:
    per-(query, term, doc) tf against the broadcast query-term frame,
    per-term df, and per-doc length — computed ONCE and consumed by
    both rankers of the hybrid fusion (which passes a materialized
    ``tok`` so the explode isn't replayed per consumer)."""
    spark = tok.sparkSession
    qterms = spark.createDataFrame(
        list(_BM25_QUERY_TERMS), "query_id long, term string"
    )
    tf = (
        tok.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    df_t = (
        tok.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    return tf, df_t, dl


def _bm25_topk(tf: DataFrame, df_t: DataFrame, dl: DataFrame) -> DataFrame:
    """BM25 ranking from the shared lexical inputs (one scoring
    definition, used standalone and inside the RRF fusion)."""
    stats = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("total_toks"))
    scored = (
        tf.join(dl, "doc_id")
        .join(df_t, "term")
        .join(F.broadcast(stats))
        .withColumn(
            "tscore",
            F.round(
                F.expr(
                    f"cast(((2 * n_docs - 2 * df + 1) * {_IDF_SCALE})"
                    " div (2 * df + 1) as double)"
                    " * 22.0 * tf * total_toks"
                    " / (10 * tf * total_toks + 3 * total_toks + 9 * dl * n_docs)"
                ),
                4,
            ).cast("decimal(18,4)"),
        )
    )
    from pyspark.sql import Window

    agg = scored.groupBy("query_id", "doc_id").agg(F.sum("tscore").alias("sdec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sdec"), F.asc("doc_id"))
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _BM25_TOPK)
        .select(
            "query_id", "doc_id", F.col("sdec").cast("double").alias("bm25"), "rk"
        )
    )


_RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
_RRF_SCALE = 1_000_000


def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009) — how production search combines heterogeneous rankers whose
    scores are not comparable (Elasticsearch/OpenSearch expose exactly
    this for lexical + dense hybrids): fuse the BM25 top-10 with a
    tf-idf dot-product top-10 over the same query set; per (query,
    doc), ``rrf = Σ_r SCALE div (60 + rank_r)`` over the rankers that
    returned the doc — rank-only, so the fusion is EXACT integer
    arithmetic regardless of the rankers' score scales.  Emits both
    input ranks (null where a ranker missed the doc) plus the fused
    rank.

    Ranker A is the shared ``_bm25_topk`` scoring definition (the same
    one ``retrieval_bm25_topk`` runs standalone); ranker B is the
    integer-scaled tf-idf sum restricted to the query terms.  Both
    rankers consume ONE set of shared lexical inputs (``_lex_inputs``)
    over a materialized token frame, so the corpus is scanned and
    exploded once per fusion, not once per ranker.

    Scale: both rankers are broadcast-query-join → map-side-combining
    aggs → per-query top-k windows over bounded candidate sets; the
    fusion joins two ≤(queries×k)-row frames — negligible at any
    corpus size.
    """
    from pyspark.sql import Window

    # deliberately NO parallelism guard (measured A/B at sf0.1: OFF
    # 2.07 s vs ON 2.83 s best-of-4 — the explode feeds groupBy
    # shuffles immediately, the retrieval_bm25_topk shape)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # materialized once: tf / df / dl each consume the explode, and
    # both rankers consume those — the dedup shingle-frame discipline
    tok = materialize(
        docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("term"))
    )
    # The fusion plan consumes tf/df_t 2x and dl 3x (both rankers +
    # the n_docs agg), and Spark replays a lazy subtree once PER
    # consumer — materialize the three (mutually independent) lexical
    # inputs once, with their jobs overlapped (guide §2.4/§2.6).  All
    # three are bounded: tf/df_t by the query-term broadcast, dl one
    # row per doc.
    tf, df_t, dl = materialize_many(*_lex_inputs(tok))
    # n_docs for the tf-idf idf = docs with ≥1 token = dl's row count
    nd = dl.agg(F.count("*").alias("n_docs"))
    agg_b = (
        tf.join(df_t, "term")
        .join(F.broadcast(nd))
        .withColumn(
            "tscore", F.expr(f"tf * ((n_docs * {_IDF_SCALE}) div df)")
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("tscore").alias("s"))
    )
    w_b = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("doc_id"))
    top_b = (
        agg_b.withColumn("rank_b", F.row_number().over(w_b).cast("bigint"))
        .filter(F.col("rank_b") <= _BM25_TOPK)
        .select("query_id", "doc_id", "rank_b")
    )
    top_a = _bm25_topk(tf, df_t, dl).select(
        "query_id", "doc_id", F.col("rk").alias("rank_a")
    )
    fused = top_a.join(top_b, ["query_id", "doc_id"], "full").withColumn(
        "rrf_scaled",
        F.coalesce(
            F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rank_a)"), F.lit(0)
        )
        + F.coalesce(
            F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rank_b)"), F.lit(0)
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_scaled"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select(
            "query_id", "doc_id", "rank_a", "rank_b", "rrf_scaled", "rank"
        )
    )


_RAKE_TOPK = 20
#: Same regex, two escape depths: Spark SQL string literals unescape
#: backslashes (so the pattern needs \\b to reach the Java regex as
#: \b), DuckDB passes literals through verbatim (so \b IS \b).
_RAKE_SPARK_RE = "\\\\b(" + "|".join(_EN_STOP) + ")\\\\b"
_RAKE_DUCK_RE = "\\b(" + "|".join(_EN_STOP) + ")\\b"


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are the maximal stopword-free runs; each word scores
    degree/frequency (degree = summed length of phrases containing
    it, frequency = its occurrence count); a phrase scores the sum of
    its word scores.  Top-20 corpus phrases by score with occurrence
    counts — the unsupervised keyword surface next to TF-IDF.

    Determinism: word scores are ×100-scaled integer ratios
    (``degree·100 div freq``), phrase scores exact integer sums;
    ties break on the phrase text.  Stopword splitting is one
    regexp_replace (DuckDB side needs the ``'g'`` flag — the
    documented replace-all gotcha) + split.

    Scale: two explodes (phrases, words) with map-side-combining
    counts; the word-score frame is VOCABULARY-sized (open, heavy-
    tailed) so it joins UN-HINTED — AQE broadcasts it while small and
    degrades to a shuffled equi-join when it is not (the TF-IDF
    document-frequency discipline, SCALE.md); top-k is
    TakeOrderedAndProject.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    phrases = docs.select(
        F.explode(
            F.expr(
                "filter(transform(split(regexp_replace(lower(text),"
                f" '{_RAKE_SPARK_RE}', '|'), '\\\\|'),"
                " p -> trim(regexp_replace(p, '\\\\s+', ' '))),"
                " p -> p != '')"
            )
        ).alias("phrase")
    )
    pw = phrases.select(
        "phrase",
        F.expr("split(phrase, ' ')").alias("ws"),
    ).select("phrase", F.size("ws").alias("plen"), F.explode("ws").alias("w"))
    scores = pw.groupBy("w").agg(
        F.expr("(sum(plen) * 100) div count(*)").alias("score_x100")
    )
    return (
        pw.join(scores, "w")
        .groupBy("phrase")
        .agg(F.sum("score_x100").alias("total"))
        .join(
            phrases.groupBy("phrase").agg(F.count("*").alias("n_occ")),
            "phrase",
        )
        .select(
            "phrase",
            F.expr("total div n_occ").alias("score_x100"),
            "n_occ",
        )
        .orderBy(F.col("score_x100").desc(), "phrase")
        .limit(_RAKE_TOPK)
    )


#: Per-language stopword sets for the lang-aware RAKE tier — tiny
#: published head-of-Zipf function-word lists per language (public
#: knowledge; same spirit as the ``_EN_STOP`` list above).  A CLOSED
#: taxonomy compiled into the plan as a CASE over ``lang`` — constant
#: size, so no join and no broadcast is needed at any data scale.
#: zh caveat (documented limitation): RAKE is defined over
#: whitespace/stopword-delimited runs; unsegmented CJK text yields
#: whole-line candidate phrases.  Both engines share the behavior
#: (Java-regex and RE2 ``\b`` are both ASCII-word-char-defined, so the
#: zh patterns are consistent no-ops on unsegmented text).
_RAKE_LANG_STOP = {
    "en": _EN_STOP,
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den",
           "von", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es",
           "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "est",
           "dans"),
    "zh": ("的", "了", "和", "是", "在", "我", "有", "他", "这", "不"),
}
_RAKE_LANG_TOPK = 10


def _rake_case_expr(escape: str) -> str:
    """One CASE expression mapping each known ``lang`` to its
    stopword-split text; unknown langs fall through unsplit (the
    whole lowered text becomes one candidate phrase).  ``escape`` is
    the backslash prefix for the word-boundary metachar at the target
    engine's string-literal depth (Spark SQL literals unescape once;
    DuckDB literals are verbatim)."""
    arms = " ".join(
        f"WHEN lang = '{lang}' THEN regexp_replace(lower(text),"
        f" '{escape}b({'|'.join(stops)}){escape}b', '|'"
        + (", 'g')" if escape == "\\" else ")")
        for lang, stops in sorted(_RAKE_LANG_STOP.items())
    )
    return f"CASE {arms} ELSE lower(text) END"


def text_rake_keywords_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language RAKE (Rose et al. 2010): same degree/frequency
    scoring as ``text_rake_keywords``, but candidate phrases are the
    maximal runs free of the DOCUMENT'S OWN language's stopwords
    (``_RAKE_LANG_STOP``), and word scores / top-k are computed within
    each language — an 'en' stopword does not split a 'de' document.
    Output: top-10 phrases per language with exact ×100-scaled integer
    scores and occurrence counts, rank ties broken on phrase text.

    Scale: the stopword taxonomy is compiled into the plan as a CASE
    over the closed ``lang`` set — zero joins for the dispatch.  Two
    explodes with map-side-combining counts; the per-(lang, word)
    score frame is vocabulary-sized (open, heavy-tailed) so it joins
    UN-HINTED per the SCALE.md vocabulary rule; per-language top-k is
    a rank-filtered window that Spark rewrites to WindowGroupLimit
    (map-side per-partition top-k before the |langs|-key shuffle).
    """
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir).select("lang", "text")
    case = _rake_case_expr("\\\\")
    phrases = docs.select(
        "lang",
        F.explode(
            F.expr(
                f"filter(transform(split({case}, '\\\\|'),"
                " p -> trim(regexp_replace(p, '\\\\s+', ' '))),"
                " p -> p != '')"
            )
        ).alias("phrase"),
    )
    pw = phrases.select(
        "lang",
        "phrase",
        F.expr("split(phrase, ' ')").alias("ws"),
    ).select(
        "lang", "phrase", F.size("ws").alias("plen"),
        F.explode("ws").alias("w"),
    )
    scores = pw.groupBy("lang", "w").agg(
        F.expr("(sum(plen) * 100) div count(*)").alias("score_x100")
    )
    ranked = (
        pw.join(scores, ["lang", "w"])
        .groupBy("lang", "phrase")
        .agg(F.sum("score_x100").alias("total"))
        .join(
            phrases.groupBy("lang", "phrase").agg(
                F.count("*").alias("n_occ")
            ),
            ["lang", "phrase"],
        )
        .select(
            "lang", "phrase",
            F.expr("total div n_occ").alias("score_x100"),
            "n_occ",
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("score_x100"), F.asc("phrase")
    )
    return (
        ranked.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _RAKE_LANG_TOPK)
        .select("lang", "phrase", "score_x100", "n_occ", "rank")
    )


QUERIES = {
    "text_token_stats": text_token_stats,
    "text_dup_span_fraction": text_dup_span_fraction,
    "retrieval_bm25_topk": retrieval_bm25_topk,
    "sample_per_lang_hashrank": sample_per_lang_hashrank,
    "text_top_words": text_top_words,
    "text_lang_id": text_lang_id,
    "text_quality_score": text_quality_score,
    "doc_fingerprint": doc_fingerprint,
    "text_tfidf_topk": text_tfidf_topk,
    "text_length_quantiles": text_length_quantiles,
    "text_chunk_documents": text_chunk_documents,
    "text_pack_context_bins": text_pack_context_bins,
    "text_redact_patterns": text_redact_patterns,
    "retrieval_hybrid_rrf": retrieval_hybrid_rrf,
    "text_rake_keywords": text_rake_keywords,
    "text_rake_keywords_by_lang": text_rake_keywords_by_lang,
}

_DUCK_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"
_DUCK_BIGHASH = "('0x' || substr(md5({e}), 1, 15))::BIGINT"

_DUCK_BM25_VALUES = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERY_TERMS)

#: Composite quality formula over (stop_ratio, n_tok, punct_ratio)
#: columns — ONE SQL definition shared by every oracle that replays
#: `with_quality_signals` (text_quality_score, the cleaning pipeline,
#: the quality-aware dedup keeper).
_DUCK_QUALITY = (
    "floor((0.4 * stop_ratio + 0.3 * least(n_tok / 100.0, 1.0)"
    " + 0.3 * (1.0 - punct_ratio)) * 10000 + 0.5) / 10000.0"
)

ORACLES = {
    "text_dup_span_fraction": f"""
        WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
        nz AS (SELECT doc_id, toks FROM t WHERE len(toks) >= {_SPAN_N}),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks) - {_SPAN_N} + 2),
                       i -> array_to_string(
                           list_slice(toks, i, i + {_SPAN_N} - 1), ' ')
                   )) AS gram
            FROM nz
        ),
        gh AS (SELECT doc_id, {_DUCK_BIGHASH.format(e="gram")} AS g FROM g),
        counts AS (SELECT g, count(*) AS cnt FROM gh GROUP BY g)
        SELECT doc_id, count(*) AS n_spans,
               count(*) FILTER (WHERE cnt > 1) AS n_dup_spans,
               round(count(*) FILTER (WHERE cnt > 1) / count(*), 4)
                   AS dup_fraction
        FROM gh JOIN counts USING (g)
        GROUP BY doc_id
    """,
    "retrieval_bm25_topk": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
        ),
        q AS (SELECT * FROM (VALUES {_DUCK_BM25_VALUES}) AS v(query_id, term)),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        stats AS (SELECT count(*)::BIGINT AS n_docs,
                         sum(dl)::BIGINT AS total_toks FROM dl),
        tf AS (
            SELECT q.query_id, q.term, t.doc_id, count(*)::BIGINT AS tf
            FROM toks t JOIN q ON t.term = q.term
            GROUP BY q.query_id, q.term, t.doc_id
        ),
        dft AS (
            SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM toks
            WHERE term IN (SELECT term FROM q) GROUP BY term
        ),
        scored AS (
            SELECT tf.query_id, tf.doc_id,
                   round((((2 * n_docs - 2 * df + 1) * {_IDF_SCALE})
                          // (2 * df + 1))::DOUBLE
                         * 22.0 * tf * total_toks
                         / (10 * tf * total_toks + 3 * total_toks
                            + 9 * dl.dl * n_docs),
                         4)::DECIMAL(18,4) AS tscore
            FROM tf
            JOIN dl ON tf.doc_id = dl.doc_id
            JOIN dft ON tf.term = dft.term
            CROSS JOIN stats
        ),
        agg AS (
            SELECT query_id, doc_id, sum(tscore) AS sdec
            FROM scored GROUP BY query_id, doc_id
        ),
        ranked AS (
            SELECT query_id, doc_id, sdec,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sdec DESC, doc_id ASC) AS rk
            FROM agg
        )
        SELECT query_id::BIGINT AS query_id, doc_id, sdec::DOUBLE AS bm25, rk
        FROM ranked WHERE rk <= {_BM25_TOPK}
    """,
    "sample_per_lang_hashrank": f"""
        WITH h AS (
            SELECT lang, doc_id,
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
            FROM documents
        ),
        ranked AS (
            SELECT lang, doc_id,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY hv ASC, doc_id ASC) AS rk
            FROM h
        )
        SELECT lang, doc_id, rk FROM ranked WHERE rk <= {_SAMPLE_K}
    """,
    "text_chunk_documents": f"""
        WITH t AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        nz AS (SELECT * FROM t WHERE len(toks) > 0),
        chunks AS (
            SELECT doc_id, i.i AS chunk_no,
                   array_to_string(
                       toks[(i.i * {_STRIDE} + 1):(i.i * {_STRIDE} + {_CHUNK})],
                       ' ') AS chunk_text
            FROM nz, LATERAL (
                SELECT unnest(generate_series(0,
                    ceil(greatest(len(toks) - {_CHUNK}, 0)
                         / {_STRIDE}.0)::INT)) AS i
            ) i
        )
        SELECT doc_id, chunk_no, chunk_text,
               len(string_split(chunk_text, ' '))::BIGINT AS n_chunk_tokens
        FROM chunks
    """,
    "text_pack_context_bins": f"""
        WITH t AS (
            SELECT doc_id, lang, len({_DUCK_TOKS})::BIGINT AS n_tok
            FROM documents
        ),
        b AS (
            SELECT lang, doc_id, n_tok,
                   (coalesce(sum(n_tok) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // {_BIN_BUDGET})::BIGINT AS bin
            FROM t
        )
        SELECT lang, bin, count(*) AS n_docs, sum(n_tok)::BIGINT AS bin_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM b GROUP BY lang, bin
    """,
    "text_redact_patterns": """
        SELECT doc_id,
               len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS n_digit_runs,
               len(regexp_extract_all(text, '@[a-z0-9_]+'))::BIGINT AS n_handles,
               md5(regexp_replace(
                       regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
                       '@[a-z0-9_]+', '<USER>', 'g')) AS redacted_fp
        FROM documents
    """,
    "text_tfidf_topk": f"""
        WITH tok AS (
            SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents
        ),
        tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM tok GROUP BY doc_id, token
        ),
        nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
        dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
        scored AS (
            SELECT tf.doc_id, tf.token, tf.tf, dft.df,
                   tf.tf * ((nd.n_docs * {_IDF_SCALE}) // dft.df) AS score
            FROM tf JOIN dft ON tf.token = dft.token CROSS JOIN nd
        )
        SELECT doc_id, token, tf, df, score, rk FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, token ASC) AS rk
            FROM scored
        ) WHERE rk <= 3
    """,
    "text_length_quantiles": """
        SELECT lang, count(*) AS n_docs,
               round(quantile_cont(n_chars, 0.25), 4) AS p25,
               round(quantile_cont(n_chars, 0.5), 4) AS p50,
               round(quantile_cont(n_chars, 0.75), 4) AS p75,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars
        FROM documents GROUP BY lang
    """,
    "text_top_words": f"""
        SELECT word, count(*) AS n FROM (
            SELECT unnest({_DUCK_TOKS}) AS word FROM documents
        )
        GROUP BY word
        ORDER BY n DESC, word ASC
        LIMIT 20
    """,
    "text_token_stats": f"""
        WITH t AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
        SELECT doc_id,
               len(toks)::BIGINT AS n_tokens,
               len(list_distinct(toks))::BIGINT AS n_distinct,
               round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                     / len(toks), 4) AS avg_token_len,
               len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n]'))::BIGINT
                   AS n_bpe_tokens
        FROM t
    """,
    "text_lang_id": f"""
        WITH t AS (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents),
        r AS (
            SELECT doc_id, lang,
                   round(len(list_filter(toks, x -> x IN ({_STOP_SQL})))::DOUBLE
                         / len(toks), 4) AS en_ratio
            FROM t
        )
        SELECT doc_id, en_ratio,
               CASE WHEN en_ratio >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang,
               lang
        FROM r
    """,
    "text_quality_score": f"""
        WITH t AS (
            SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents
        ),
        m AS (
            SELECT doc_id,
                   len(list_filter(toks, x -> x IN ({_STOP_SQL})))::DOUBLE
                       / len(toks)::DOUBLE AS stop_ratio,
                   length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE
                       / length(text)::DOUBLE AS punct_ratio,
                   length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                       / length(text)::DOUBLE AS digit_ratio,
                   len(toks)::DOUBLE AS n_tok
            FROM t
        )
        SELECT doc_id,
               round(stop_ratio, 4) AS stop_ratio,
               round(punct_ratio, 4) AS punct_ratio,
               round(digit_ratio, 4) AS digit_ratio,
               {_DUCK_QUALITY} AS quality
        FROM m
    """,
    "doc_fingerprint": """
        WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
        m AS (
            SELECT doc_id,
                   list_transform(generate_series(1, greatest(length(t) - 7, 1)),
                                  p -> md5(substr(t, p, 8))) AS ms
            FROM t
        )
        SELECT doc_id,
               list_min(list_transform(ms, h -> ('0x' || substr(h, 1, 15))::BIGINT))
                   AS fp0,
               list_min(list_transform(ms, h -> ('0x' || substr(h, 17, 15))::BIGINT))
                   AS fp1
        FROM m
    """,
}

# Hybrid RRF fusion: composes the BM25 oracle (one definition per
# ranker) with the integer tf-idf ranking and exact integer RRF sums.
ORACLES["retrieval_hybrid_rrf"] = f"""
    WITH a0 AS ({ORACLES["retrieval_bm25_topk"]}),
    a AS (SELECT query_id, doc_id, rk AS rank_a FROM a0),
    toks AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents),
    q AS (SELECT * FROM (VALUES {_DUCK_BM25_VALUES}) AS v(query_id, term)),
    tf AS (
        SELECT q.query_id, q.term, t.doc_id, count(*)::BIGINT AS tf
        FROM toks t JOIN q ON t.term = q.term
        GROUP BY q.query_id, q.term, t.doc_id
    ),
    nd AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM toks),
    dft AS (
        SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM toks
        WHERE term IN (SELECT term FROM q) GROUP BY term
    ),
    aggb AS (
        SELECT tf.query_id, tf.doc_id,
               sum(tf.tf * ((nd.n_docs * {_IDF_SCALE}) // dft.df))::BIGINT
                   AS s
        FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN nd
        GROUP BY tf.query_id, tf.doc_id
    ),
    b AS (
        SELECT query_id, doc_id, rank_b FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, doc_id ASC) AS rank_b
            FROM aggb)
        WHERE rank_b <= {_BM25_TOPK}
    ),
    fused AS (
        SELECT coalesce(a.query_id, b.query_id)::BIGINT AS query_id,
               coalesce(a.doc_id, b.doc_id) AS doc_id,
               a.rank_a, b.rank_b,
               coalesce({_RRF_SCALE} // ({_RRF_K} + a.rank_a), 0)
               + coalesce({_RRF_SCALE} // ({_RRF_K} + b.rank_b), 0)
                   AS rrf_scaled
        FROM a FULL JOIN b
          ON a.query_id = b.query_id AND a.doc_id = b.doc_id
    )
    SELECT query_id, doc_id, rank_a, rank_b, rrf_scaled, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf_scaled DESC, doc_id ASC) AS rank
          FROM fused)
    WHERE rank <= {_BM25_TOPK}
"""


ORACLES["text_rake_keywords"] = f"""
    WITH phrases AS (
        SELECT unnest(list_filter(list_transform(
                   string_split(regexp_replace(lower(text),
                       '{_RAKE_DUCK_RE}', '|', 'g'), '|'),
                   p -> trim(regexp_replace(p, '\\s+', ' ', 'g'))),
               p -> p <> '')) AS phrase
        FROM documents
    ),
    pw AS (
        SELECT phrase, len(string_split(phrase, ' ')) AS plen,
               unnest(string_split(phrase, ' ')) AS w
        FROM phrases
    ),
    scores AS (
        SELECT w, (sum(plen) * 100) // count(*) AS score_x100
        FROM pw GROUP BY w
    ),
    ps AS (
        SELECT pw.phrase, sum(s.score_x100)::BIGINT AS total
        FROM pw JOIN scores s USING (w)
        GROUP BY pw.phrase
    ),
    occ AS (SELECT phrase, count(*)::BIGINT AS n_occ FROM phrases GROUP BY phrase)
    SELECT p.phrase, (p.total // o.n_occ)::BIGINT AS score_x100, o.n_occ
    FROM ps p JOIN occ o USING (phrase)
    ORDER BY score_x100 DESC, phrase
    LIMIT {_RAKE_TOPK}
"""

_RAKE_DUCK_CASE = _rake_case_expr("\\")
ORACLES["text_rake_keywords_by_lang"] = f"""
    WITH phrases AS (
        SELECT lang,
               unnest(list_filter(list_transform(
                   string_split({_RAKE_DUCK_CASE}, '|'),
                   p -> trim(regexp_replace(p, '\\s+', ' ', 'g'))),
               p -> p <> '')) AS phrase
        FROM documents
    ),
    pw AS (
        SELECT lang, phrase, len(string_split(phrase, ' ')) AS plen,
               unnest(string_split(phrase, ' ')) AS w
        FROM phrases
    ),
    scores AS (
        SELECT lang, w, (sum(plen) * 100) // count(*) AS score_x100
        FROM pw GROUP BY lang, w
    ),
    ps AS (
        SELECT pw.lang, pw.phrase, sum(s.score_x100)::BIGINT AS total
        FROM pw JOIN scores s USING (lang, w)
        GROUP BY pw.lang, pw.phrase
    ),
    occ AS (
        SELECT lang, phrase, count(*)::BIGINT AS n_occ
        FROM phrases GROUP BY lang, phrase
    ),
    ranked AS (
        SELECT p.lang, p.phrase,
               (p.total // o.n_occ)::BIGINT AS score_x100, o.n_occ,
               row_number() OVER (
                   PARTITION BY p.lang
                   ORDER BY (p.total // o.n_occ) DESC, p.phrase
               )::BIGINT AS rank
        FROM ps p JOIN occ o USING (lang, phrase)
    )
    SELECT lang, phrase, score_x100, n_occ, rank
    FROM ranked WHERE rank <= {_RAKE_LANG_TOPK}
"""
