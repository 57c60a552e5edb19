"""Corpus-preparation operators for large-scale training pipelines
(SURVEY.md §7 M6 extension): Gopher-style quality gating, an n-gram
LM predictability score, exact-substring dedup, deterministic global
shuffle + sharding, BPE merge-candidate mining, and inverted-index
profiling.

All six are pure DataFrame compositions (explode → map-side-combining
aggregations → equi-joins) with no Python in the hot path; every
double that leaves an operator is floor-rounded with the
cross-engine-stable ``floor(x*1e4 + 0.5)/1e4`` pattern and every
score that feeds a comparison is integer-scaled, so the DuckDB
oracles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from decisions_kinesis_spark.operators import stage_cache
from decisions_kinesis_spark.operators.dedup import (
    _BASE40_DUCK,
    _DUCK_SHINGLE_CTE,
    _N_SEEDS as _MH_SEEDS,
    _band_table,
    _doc_shingles,
    _seeded as _mh_seeded,
)
from decisions_kinesis_spark.operators.textops import (
    _BIGHASH,
    _DUCK_BIGHASH,
    _DUCK_TOKS,
    _STOP_SQL,
    _TOKS,
)
from decisions_kinesis_spark.functions.ordering import range_prefix
from decisions_kinesis_spark.functions.parallel import (
    ensure_parallelism,
    materialize,
    materialize_many,
)
from decisions_kinesis_spark.sources.tables import load_table

#: floor-based 4dp round — identical IEEE op sequence in both engines
#: (Spark round() is HALF_UP, DuckDB HALF_EVEN); shared definition in
#: functions/rounding.py.
from decisions_kinesis_spark.functions.rounding import fl4 as _fl4  # noqa: E402


_GOPHER_MIN_WORDS = 10
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_WLEN = 3.0
_GOPHER_MAX_WLEN = 10.0
_GOPHER_MAX_TOPFRAC = 0.20
_GOPHER_MIN_STOP = 2


def quality_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate (Rae et al. 2021 §A1.1 adapted to the
    fixture's single-line corpus): word-count band, mean-word-length
    band, most-frequent-word fraction (repetition), and minimum
    distinct-stopword presence, plus the combined ``keep`` verdict.

    Scale: explode → (doc, word) counts (map-side combine) → per-doc
    fold.  Two shuffles on bounded keys; no driver participation; the
    per-word count frame is the same shape MinHash/TF-IDF already
    shuffle, so at 100 TB this rides the identical partitioning.
    """
    return gopher_flags(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )


def gopher_flags(docs: DataFrame) -> DataFrame:
    """Frame-level Gopher gate over (doc_id, text) — shared by the
    batch query and streaming micro-batch application (one gate
    definition, the ``doc_token_grams`` discipline)."""
    tok = docs.select("doc_id", F.expr(_TOKS).alias("toks"))
    words = tok.select("doc_id", F.explode("toks").alias("w"))
    wc = words.groupBy("doc_id", "w").agg(F.count("*").alias("cnt"))
    per = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.col("cnt") * F.length("w")).alias("char_sum"),
        F.count(F.when(F.expr(f"w in ({_STOP_SQL})"), F.lit(1))).alias(
            "n_stopwords"
        ),
    )
    out = per.select(
        "doc_id",
        "n_words",
        _fl4(F.col("char_sum") / F.col("n_words")).alias("mean_word_len"),
        _fl4(F.col("n_distinct") / F.col("n_words")).alias("distinct_ratio"),
        _fl4(F.col("top_cnt") / F.col("n_words")).alias("top_word_fraction"),
        "n_stopwords",
    )
    return out.withColumn(
        "keep",
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(_GOPHER_MIN_WLEN, _GOPHER_MAX_WLEN)
        & (F.col("top_word_fraction") <= _GOPHER_MAX_TOPFRAC)
        & (F.col("n_stopwords") >= _GOPHER_MIN_STOP),
    )


#: Gopher repetition thresholds (Rae et al. 2021 Table A1): max char
#: fraction of the most frequent n-gram, and of all DUPLICATED n-grams.
_REP_TOP = {2: 0.20, 3: 0.18, 4: 0.16}
_REP_DUP = {5: 0.15, 10: 0.10}


def quality_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher REPETITION rules (Rae et al. 2021 §A1.1, Table A1) — the
    half of the quality gate ``quality_gopher_flags`` does not cover:
    per document, the character fraction covered by the most frequent
    {2,3,4}-gram and by all duplicated (count ≥ 2) {5,10}-grams, with
    the paper's thresholds and the combined ``keep`` verdict.
    Character fraction = occurrences × gram length (incl. internal
    spaces) over the single-space-normalized document length — the
    standard approximation that charges overlapping occurrences
    per-occurrence.  Documents with fewer than n tokens have no n-grams
    and pass that rule vacuously (coalesce 0).

    Scale: ZERO shuffles — every statistic here is per-document, so
    each width's grams are sorted doc-locally (``array_sort``) and the
    run-length fold over the sorted array yields the max count and the
    duplicated-occurrence sum in one ``aggregate`` pass; the whole
    query is a narrow map over the scan, embarrassingly parallel at
    any cluster size.  Transient memory per row is O(doc tokens) per
    width — the same bound the previous explode shape paid to
    materialize the generator array, now without its two shuffles and
    doc-chars join (measured 5.0 s → 2.4 s warm at sf0.1 on local[32]).
    """
    # the per-doc gram folds are the heaviest scan-side compute in the
    # corpus family; a small fixture arrives as ONE input split, so
    # without the parallelism guard the whole query runs single-core
    # (measured 3.7 s single-task vs 1.2 s spread at sf0.1 — no-op at
    # scale where the scan is already multi-split)
    return repetition_flags(
        ensure_parallelism(
            load_table(spark, "documents", sf_dir).select("doc_id", "text")
        )
    )


def _rep_runstats(n: int) -> str:
    """SQL expression: per-doc (top, dup) char totals for width-n grams.

    Sort the doc's n-gram array, then fold runs of equal grams: a run
    of length c for gram g contributes c·length(g) to the duplicated
    total when c ≥ 2, and competes for the max.  The fold state carries
    (prev gram, run length, best top, dup sum); the finish lambda
    closes the final run.  Gram construction is identical to the
    oracle's (``array_join(slice(toks, i, n), ' ')``), and counting is
    exact over gram STRINGS — no hash approximation on either side.
    """
    grams = (
        f"array_sort(transform(sequence(1, size(toks) - {n} + 1),"
        f" i -> array_join(slice(toks, i, {n}), ' ')))"
    )
    close = (
        "'top', greatest(s.top, s.run * coalesce(length(s.prev), 0)),"
        "'dup', s.dup + if(s.run >= 2,"
        " s.run * coalesce(length(s.prev), 0), 0L)"
    )
    return (
        f"aggregate("
        f" case when size(toks) >= {n} then {grams}"
        f"   else cast(array() as array<string>) end,"
        f" named_struct('prev', cast(null as string), 'run', 0L,"
        f"              'top', 0L, 'dup', 0L),"
        f" (s, g) -> case when s.run > 0 and g = s.prev"
        f"   then named_struct('prev', g, 'run', s.run + 1,"
        f"                     'top', s.top, 'dup', s.dup)"
        f"   else named_struct('prev', g, 'run', 1L, {close}) end,"
        f" s -> named_struct({close}))"
    )


def repetition_flags(docs: DataFrame) -> DataFrame:
    """Frame-level Gopher repetition gate over (doc_id, text) — shared
    by the batch query and streaming micro-batch application."""
    toks = docs.select("doc_id", F.expr(_TOKS).alias("toks")).filter(
        F.size("toks") >= 1
    )
    widths = (*_REP_TOP, *_REP_DUP)
    out = toks.select(
        "doc_id",
        F.length(F.expr("array_join(toks, ' ')")).alias("doc_chars"),
        *[F.expr(_rep_runstats(n)).alias(f"s{n}") for n in widths],
    )
    frac = lambda c: _fl4(F.col(c) / F.col("doc_chars"))  # noqa: E731
    for n in _REP_TOP:
        out = out.withColumn(f"top_{n}gram_frac", frac(f"s{n}.top"))
    for n in _REP_DUP:
        out = out.withColumn(f"dup_{n}gram_frac", frac(f"s{n}.dup"))
    keep = F.lit(True)
    for n, thr in _REP_TOP.items():
        keep = keep & (F.col(f"top_{n}gram_frac") <= thr)
    for n, thr in _REP_DUP.items():
        keep = keep & (F.col(f"dup_{n}gram_frac") <= thr)
    return out.select(
        "doc_id",
        "doc_chars",
        *[f"top_{n}gram_frac" for n in _REP_TOP],
        *[f"dup_{n}gram_frac" for n in _REP_DUP],
        keep.alias("keep"),
    )


#: per bigram position ``i`` of a ``toks`` column: the pair, its left
#: token and its right token.  The 0x1F separator cannot appear in a
#: whitespace-split token, so the pair → hash map is injective.
_BIGRAM_FIELDS = {
    "gb": "concat(element_at(toks, i), char(31), element_at(toks, i + 1))",
    "gu": "element_at(toks, i)",
    "gv": "element_at(toks, i + 1)",
}


def _bigram_structs(fields: tuple[str, ...]) -> str:
    """Spark SQL array of one struct of ``fields`` per bigram position."""
    named = ", ".join(f"'{f}', {_BIGRAM_FIELDS[f]}" for f in fields)
    return f"transform(sequence(1, size(toks) - 1), i -> named_struct({named}))"


#: directional adjacent-bigram (pair, left, right) extraction — ONE
#: spelling shared by ``text_collocations`` and its streaming
#: maintenance proof, so the two cannot silently diverge
_BIGRAM_STRUCTS = _bigram_structs(tuple(_BIGRAM_FIELDS))


def _doc_bigram_tf(toks: DataFrame, fields: tuple[str, ...]) -> DataFrame:
    """(doc_id, *fields, tf): each doc's bigram TYPES as 60-bit hashes
    of ``fields`` with their occurrence count — the type-collapsed
    frame the corpus-LM scores join on (8-byte keys in every shuffle)."""
    return (
        toks.select(
            "doc_id", F.explode(F.expr(_bigram_structs(fields))).alias("b")
        )
        .select(
            "doc_id",
            *[F.expr(_BIGHASH.format(e=f"b.{f}")).alias(f) for f in fields],
        )
        .groupBy("doc_id", *fields)
        .agg(F.count("*").alias("tf"))
    )


_LM_SCALE = 1_000_000  # integer-scaled bigram probability


def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM predictability score (the perplexity-proxy quality
    filter, CCNet-style but with the corpus itself as the LM): per
    document, the average integer-scaled corpus bigram probability
    ``P(w2|w1) ≈ cnt(w1 w2)·1e6 div cnt(w1·)`` over all its bigram
    positions.  High scores flag templated / repetitive text; the
    integer div keeps both engines bit-identical (no log, no float
    accumulation).

    Scale: bigram occurrences collapse to per-doc TYPE counts before
    any join (sum over occurrences of p = Σ tf·p over types, exactly),
    and both join keys are 60-bit hashes of the bigram / prefix, so the
    corpus-count shuffles move 8-byte keys and the join input is the
    distinct-(doc, bigram) frame, not every occurrence.  All counts
    combine map-side; the per-doc fold is a bigint sum + integer
    division.  Measured 20×-data wall-clock ratio dropped 11.6×→~4×
    with this shape (tools/scale_smoke.py).
    """
    docs = ensure_parallelism(load_table(spark, "documents", sf_dir).select("doc_id", "text"))
    toks = docs.select("doc_id", F.expr(_TOKS).alias("toks")).filter(
        F.size("toks") >= 2
    )
    # doc_tf feeds BOTH corpus-count aggregations AND the scoring join —
    # materialize the type-collapsed frame once (the LSH shingle-frame
    # discipline) instead of replaying scan+tokenize+explode+hash for
    # each consumer (alternating same-process A/B at sf0.1: 1.83 →
    # 1.49 s min-of-3; no ReusedExchange appears in the plain plan)
    doc_tf = materialize(_doc_bigram_tf(toks, ("gb", "gu")))
    cnt_bi = doc_tf.groupBy("gb").agg(F.sum("tf").alias("c_bi"))
    cnt_uni = doc_tf.groupBy("gu").agg(F.sum("tf").alias("c_uni"))
    scored = (
        doc_tf.join(cnt_bi, "gb")
        .join(cnt_uni, "gu")
        .withColumn("p_scaled", F.expr(f"(c_bi * {_LM_SCALE}) div c_uni"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.expr("sum(tf * p_scaled) div sum(tf)").alias("lm_score_scaled"),
    )


_LM_LAMBDA_BI = 7  # interpolation weight numerators (λ = 0.7 bigram,
_LM_LAMBDA_UNI = 3  # 0.3 unigram), denominator 10 — integer arithmetic

#: Overflow-safe scaled ratio floor(num·1e6 / den) in two exact ×1000
#: steps (the DSIR discipline): largest intermediate is
#: max(num, den)·1000, exact to ~9.2e15 instead of ~9.2e12.
_RATIO_SPARK = (
    "((({n}) * 1000) div ({d})) * 1000"
    " + (((({n}) * 1000) % ({d})) * 1000) div ({d})"
)
_RATIO_DUCK = (
    "((({n}) * 1000) // ({d})) * 1000"
    " + (((({n}) * 1000) % ({d})) * 1000) // ({d})"
)


def lm_interpolated_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document LM predictability with UNIGRAM BACKOFF — the
    interpolated form every CCNet-style quality stack actually ships
    (Jelinek-Mercer smoothing: ``P ≈ 0.7·P(w2|w1) + 0.3·P(w2)``), so a
    rare-but-valid continuation after a common prefix is no longer
    scored zero the way the pure-bigram ``lm_bigram_score`` scores it.
    Both component probabilities are integer-scaled (×1e6) corpus
    estimates; the interpolation is exact integer arithmetic
    (``(7·p_bi + 3·p_uni) div 10``), so the DuckDB oracle matches
    bit-for-bit — the same no-libm-log discipline as DSIR, with the
    overflow-safe two-step ratio.

    Scale: identical topology to ``lm_bigram_score`` (type-collapsed
    per-doc counts, 8-byte hash keys through every shuffle) plus one
    vocabulary-sized unigram-count join (AQE-sized, the TF-IDF
    document-frequency shape) and a 1-row total broadcast.
    """
    docs = ensure_parallelism(load_table(spark, "documents", sf_dir).select("doc_id", "text"))
    toks = docs.select("doc_id", F.expr(_TOKS).alias("toks"))
    # unigram model over ALL token positions
    tok = toks.select(F.explode("toks").alias("t")).select(
        F.expr(_BIGHASH.format(e="t")).alias("gv")
    )
    # vocabulary-sized unigram counts feed the grand total AND the
    # scoring join — one materialization, not two unigram explodes
    cnt_tok_lazy = tok.groupBy("gv").agg(F.count("*").alias("c_tok"))
    # same three-consumer shape as lm_bigram_score — materialize once;
    # the unigram-count and per-doc-bigram pipelines are independent,
    # so their jobs overlap (guide §2.6)
    cnt_tok, doc_tf = materialize_many(
        cnt_tok_lazy,
        _doc_bigram_tf(toks.filter(F.size("toks") >= 2), ("gb", "gu", "gv")),
    )
    total = cnt_tok.groupBy().agg(F.sum("c_tok").alias("n_total"))
    cnt_bi = doc_tf.groupBy("gb").agg(F.sum("tf").alias("c_bi"))
    cnt_uni = doc_tf.groupBy("gu").agg(F.sum("tf").alias("c_uni"))
    scored = (
        doc_tf.join(cnt_bi, "gb")
        .join(cnt_uni, "gu")
        .join(cnt_tok, "gv")
        .join(F.broadcast(total))
        .withColumn(
            "p_int",
            F.expr(
                f"({_LM_LAMBDA_BI} * ({_RATIO_SPARK.format(n='c_bi', d='c_uni')})"
                f" + {_LM_LAMBDA_UNI} * ({_RATIO_SPARK.format(n='c_tok', d='n_total')}))"
                " div 10"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.expr("sum(tf * p_int) div sum(tf)").alias("lm_interp_scaled"),
    )


_KN_D_NUM = 3  # absolute discount D = 3/4 (the standard 0.75) as an
_KN_D_DEN = 4  # exact rational — all KN arithmetic multiplies through


def lm_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document LM predictability under INTERPOLATED KNESER–NEY — the
    smoothing every serious n-gram stack ships (Kneser & Ney 1995;
    Chen & Goodman 1999 found it uniformly best), completing the LM
    quality family: raw bigram (``lm_bigram_score``) →
    Jelinek-Mercer backoff (``lm_interpolated_score``) → THIS.  KN
    differs from JM on exactly the continuations that matter for
    quality filtering: the backoff mass is proportional to how many
    DISTINCT contexts a word continues (``P_cont``), so "Francisco"
    (frequent but only after "San") stops inflating novel-context
    scores the way a raw unigram backoff does.

    Per bigram position:
    ``P_KN(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
                    + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)``
    with D = 3/4 multiplied through exactly: term1 =
    ``ratio(4·c_bi − 3, 4·c_uni)`` (the overflow-safe two-step ×10⁶
    ratio; c_bi ≥ 1 because every scored bigram is in the corpus, so
    the max never binds), term2 =
    ``(3·N1f·ratio(N1b, N_types)) div (4·c_uni)`` — a fixed two-stage
    truncating sequence BOTH engines replay verbatim (the perplexity-
    bucket discipline: exactness here means engine AGREEMENT on the
    declared integer recurrence, with each stage's floor documented).
    Bounds: ratio's largest intermediate is max(n, d)·1000 ≤ ~9.2e15
    positions; term2's is 3·N1f·10⁶ ≤ ~9.2e18 at vocabularies to
    ~3·10¹¹ distinct continuations — beyond any real tokenizer.

    Scale: the ``lm_bigram_score`` topology — per-doc TYPE-collapsed
    counts, 8-byte hash keys through every shuffle — plus the
    continuation-count aggregations, which reduce the DISTINCT-bigram
    type table (vocabulary-scale, not corpus-scale); N1+(··) is a
    1-row broadcast.
    """
    docs = ensure_parallelism(load_table(spark, "documents", sf_dir).select("doc_id", "text"))
    toks = docs.select("doc_id", F.expr(_TOKS).alias("toks")).filter(
        F.size("toks") >= 2
    )
    doc_tf = materialize(_doc_bigram_tf(toks, ("gb", "gu", "gv")))
    # the DISTINCT-bigram type table: gb determines (gu, gv), so this
    # one vocabulary-scale frame feeds c_bi, c_uni, BOTH continuation
    # counts, and the type total
    types = materialize(
        doc_tf.groupBy("gb", "gu", "gv")
        .agg(F.sum("tf").alias("c_bi"))
    )
    pre = types.groupBy("gu").agg(
        F.sum("c_bi").alias("c_uni"),
        F.count("*").alias("n1f"),  # N1+(w1·): distinct continuations
    )
    post = types.groupBy("gv").agg(
        F.count("*").alias("n1b")  # N1+(·w2): distinct left contexts
    )
    ntypes = types.groupBy().agg(F.count("*").alias("n_types"))
    d_num, d_den = _KN_D_NUM, _KN_D_DEN
    scored = (
        doc_tf.join(types.select("gb", "c_bi"), "gb")
        .join(pre, "gu")
        .join(post, "gv")
        .join(F.broadcast(ntypes))
        .withColumn(
            "p_int",
            F.expr(
                f"({_RATIO_SPARK.format(n=f'{d_den} * c_bi - {d_num}', d=f'{d_den} * c_uni')})"
                f" + ({d_num} * n1f"
                f"    * ({_RATIO_SPARK.format(n='n1b', d='n_types')}))"
                f"   div ({d_den} * c_uni)"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.expr("sum(tf * p_int) div sum(tf)").alias("lm_kn_scaled"),
    )


_COLLOC_MIN_N = 3  # minimum bigram occurrences for a reported pair
_COLLOC_TOPK = 50

def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION extraction (Manning & Schütze ch. 5, the lift/PMI
    family): adjacent token pairs that co-occur far more than their
    unigram frequencies predict — the multi-word-expression detector a
    tokenizer-vocabulary or phrase-mining pipeline runs ("new york",
    "machine learning").  The association score is exact-integer LIFT
    ``c₁₂·N·10⁶ div (c₁·c₂)`` over bigram POSITIONS (the monotone
    integer twin of PMI = log lift — ranking by lift avoids the log,
    which is the no-libm rule), with a minimum-support floor so
    singleton flukes (lift ≈ N) don't crowd the table; ties break on
    the pair hash.  Directional adjacency at the TOKEN grain — the NLP
    counterpart of ``orders_market_basket_lift``'s unordered
    order-grain rules.

    Overflow: c₁₂·N·10⁶ ≤ N²·10⁶ exceeds bigint at ~3·10⁶ positions —
    the numerator runs in a DECIMAL(38,0) interior (good to N ≈ 10¹⁶).
    The QUOTIENT is not bounded either (≈ N·10⁶/min_support for an
    always-co-occurring floor-support pair — int64 ends at N ≈
    2.7·10¹³ positions, inside the 100 TB regime), so the lift leaves
    through the subtract-mod decimal division + try_cast/TRY_CAST:
    exact BIGINT in range, NULL past the bound, identically on both
    engines (`div` would coerce to LONG and wrap silently — NOTES
    canon).  NULL-past-bound itself holds up to quotients of ~10³²
    (the decimal(38,6) division result's ceiling — past it Spark's
    ANSI decimal divide raises where DuckDB TRY_CASTs to NULL); see
    ``docs_simpson_diversity`` for the full statement of this
    residual, ~3 orders of magnitude past the 100 TB regime.

    Scale: the ``lm_bigram_score`` topology — one explode to 60-bit
    hashed (pair, left, right) keys, map-side-combining counts, two
    vocabulary-sized joins, TakeOrdered top-k.  Hash keys mean the
    report carries hashes, not strings: the consumer joins the top-k
    back to text by re-hashing (documented; keeps every shuffle at
    8-byte keys).
    """
    docs = ensure_parallelism(load_table(spark, "documents", sf_dir).select("doc_id", "text"))
    toks = docs.select(F.expr(_TOKS).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bi = toks.select(
        F.explode(F.expr(_BIGRAM_STRUCTS)).alias("b")
    ).select(
        F.expr(_BIGHASH.format(e="b.gb")).alias("gb"),
        F.expr(_BIGHASH.format(e="b.gu")).alias("gu"),
        F.expr(_BIGHASH.format(e="b.gv")).alias("gv"),
    )
    cnt = bi.groupBy("gb", "gu", "gv").agg(F.count("*").alias("c12"))
    left = cnt.groupBy("gu").agg(F.sum("c12").alias("c1"))
    right = cnt.groupBy("gv").agg(F.sum("c12").alias("c2"))
    total = cnt.groupBy().agg(F.sum("c12").alias("n_pos"))
    return (
        cnt.where(F.col("c12") >= _COLLOC_MIN_N)
        .join(left, "gu")
        .join(right, "gv")
        .join(F.broadcast(total))
        # the divisor c1·c2 is ~N² too — decimal on BOTH sides of the
        # division, or the product overflows before it
        .withColumn(
            "lnum", F.expr("cast(c12 as decimal(38,0)) * n_pos * 1000000")
        )
        .withColumn("lden", F.expr("cast(c1 as decimal(38,0)) * c2"))
        .select(
            F.col("gb").alias("pair_hash"),
            "c12",
            "c1",
            "c2",
            # the QUOTIENT is unbounded too: a pair at the support
            # floor that always co-occurs has lift ≈ N·10⁶/min_support,
            # which exceeds int64 at N ≈ 2.7·10¹³ positions — inside
            # the 100 TB regime (~25T tokens).  `div` would coerce to
            # LONG and silently wrap there (measured), so the lift
            # takes the subtract-mod decimal division + try_cast:
            # exact in range, NULL past the bound on BOTH engines.
            F.expr(
                "try_cast((lnum - lnum % lden) / lden as bigint)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), F.asc("pair_hash"))
        .limit(_COLLOC_TOPK)
    )


def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020):
    bucket every document by the TERCILES of the interpolated LM
    predictability score — CCNet keeps "head" (most LM-like) for
    training, samples "middle", and drops or down-weights "tail".
    High score = predictable = low perplexity = head; boundaries are
    exact interpolated percentiles (the ``text_length_quantiles``
    continuous-quantile contract), 4dp-rounded in both engines.  This
    completes the CCNet stack: ``lm_bigram_score`` → backoff
    interpolation → perplexity bucketing.

    Determinism: scores are integers; tercile interpolation lands on
    thirds (…, .3333, .6667 at 4dp) which never sit on a rounding
    half, so the rounded boundaries and the >= comparisons agree
    across engines exactly.

    Scale: the score pipeline is ``lm_interpolated_score``'s
    (type-collapsed, bounded-vocabulary joins); the boundary frame is
    ONE exact-percentile aggregation of per-doc scores (corpus-
    cardinality input, single-row output — the known exact-quantile
    reducer, same trade ``text_length_quantiles`` documents) joined
    back as a 1-row broadcast; bucketing is a scan-side comparison.
    """
    # the score frame feeds BOTH the boundary aggregation and the
    # bucketing join — materialize it once (|docs|-row bounded
    # checkpoint, the LSH shingle-frame discipline) instead of running
    # the full explode+join score pipeline twice (measured 2.8 → 2.1 s
    # at sf0.1, compounding with the doc_tf/cnt_tok materializations
    # inside the score pipeline itself)
    sc = materialize(lm_interpolated_score(spark, sf_dir))
    bounds = sc.agg(
        F.round(
            F.expr("percentile(lm_interp_scaled, cast(1 as double)/3)"), 4
        ).alias("b1"),
        F.round(
            F.expr("percentile(lm_interp_scaled, cast(2 as double)/3)"), 4
        ).alias("b2"),
    )
    return sc.join(F.broadcast(bounds)).select(
        "doc_id",
        "lm_interp_scaled",
        F.when(F.col("lm_interp_scaled") >= F.col("b2"), F.lit("head"))
        .when(F.col("lm_interp_scaled") >= F.col("b1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


_SUBSTR_N = 8  # exact-substring gram width (token granularity)


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup at token-gram granularity (Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better",
    suffix-array pass approximated by hashed 8-token grams): a document
    is flagged when any of its grams also occurs in a LOWER-doc_id
    document — the keep-first-occurrence policy of the paper — and
    ``n_dup_tokens`` reports how many of its TOKENS lie inside at least
    one shared gram (the interval-union of the shared spans), which is
    the quantity the paper's *removal* policy deletes: a consumer can
    drop whole flagged docs or subtract the duplicated spans.

    Documents shorter than the gram width have no spans and drop out
    (consistently in both engines).

    Scale: grams are hashed to one bigint before the global min-owner
    aggregation, so the shuffle moves 8-byte keys; min() combines
    map-side; the owner→occurrence equi-join is AQE-splittable.  The
    span union needs no interval sweep: every span has fixed width
    ``_SUBSTR_N``, so covered = Σ min(width, start − prev_start) over
    the doc's sorted shared positions — computed INSIDE the single
    per-doc aggregation as a sorted-array fold (shared positions per
    doc are bounded by doc length), so there is no separate window
    pass and no join-back: one groupBy produces all five columns.
    This is the linear-shuffle alternative to a distributed suffix
    array.
    """
    docs = ensure_parallelism(load_table(spark, "documents", sf_dir).select("doc_id", "text"))
    toks = docs.select("doc_id", F.expr(_TOKS).alias("toks")).filter(
        F.size("toks") >= _SUBSTR_N
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {_SUBSTR_N} + 1),"
                f" i -> array_join(slice(toks, i, {_SUBSTR_N}), ' '))"
            )
        ).alias("p0", "gram"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        F.expr(_BIGHASH.format(e="gram")).alias("g"),
    )
    owner = grams.groupBy("g").agg(F.min("doc_id").alias("owner"))
    # interval-union fold: prev starts at -width so the first shared
    # span contributes the full width; each later span adds
    # min(width, start - prev_start).  array_sort makes the fold
    # order-deterministic regardless of partial-aggregation order.
    span_union = F.expr(
        "aggregate(array_sort(collect_list("
        " case when owner < doc_id then pos end)),"
        f" named_struct('tot', cast(0 as bigint), 'prev', {-_SUBSTR_N}),"
        " (acc, p) -> named_struct("
        f"   'tot', acc.tot + least({_SUBSTR_N}, p - acc.prev),"
        "   'prev', p)).tot"
    )
    return (
        grams.join(owner, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(F.col("owner") < F.col("doc_id"), F.lit(1))).alias(
                "n_shared"
            ),
            span_union.alias("n_dup_tokens"),
        )
        .withColumn("flagged", F.col("n_shared") > 0)
    )


_N_SHARDS = 16


def train_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the "shuffle
    once, shard, stream" step every pre-training pipeline runs before
    tokenization.  shard = md5-hash(doc_id) mod 16; position within a
    shard = rank by (hash, doc_id).  Reproducible across runs and
    engines, no RNG.

    Scale: this is exactly Spark's hash-partition + per-partition sort
    (one exchange, sortWithinPartitions semantics via the window); no
    global total order is ever materialized — the per-shard window
    sorts only its own partition.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    h = docs.select(
        "doc_id",
        F.expr(
            _BIGHASH.format(e="concat(cast(doc_id as string), ':shuffle')")
        ).alias("hv"),
    ).withColumn("shard", F.expr(f"hv % {_N_SHARDS}"))
    w = Window.partitionBy("shard").orderBy(F.asc("hv"), F.asc("doc_id"))
    return h.select(
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
        "doc_id",
        "hv",
    )


_CURR_BUCKETS = 10  # difficulty deciles; must stay <= _CURR_STRIDE
_CURR_STRIDE = 16  # key stride embedding (within, bucket) lexicographic


def train_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering — the easy→hard schedule with STRATIFIED
    INTERLEAVING that curriculum-learning pipelines feed the trainer:
    docs are deciled by length (the shared difficulty proxy; shorter =
    easier), ranked within their decile, and given a single
    ``curriculum_key`` whose ascending order visits buckets
    round-robin (rank 1 of every decile, then rank 2 of every decile,
    …) so every training window mixes difficulties instead of
    front-loading one stratum.

    Determinism: decile cuts use the exact-percentile contract
    (bitwise ``percentile``/``quantile_cont``); bucket assignment is
    strict ``>`` comparisons against the broadcast cuts; ranks order
    by (bucket, n_chars, doc_id) — unique doc_id breaks every tie.
    ``curriculum_key = (within−1)·16 + bucket`` is an order embedding
    of (within, bucket) lexicographic (collision-free while buckets ≤
    16 — asserted by the module constants).

    Scale: the global rank uses the range-partitioned prefix pattern
    (``functions/ordering.range_prefix``) — NO single-partition
    window; within-bucket ranks are derived from the global positions
    by subtracting each bucket's first position (a 10-row broadcast),
    so the per-bucket window a naive formulation needs (10 giant
    partitions at corpus scale) never appears.
    """
    assert _CURR_BUCKETS <= _CURR_STRIDE
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    cuts = docs.agg(
        *[
            F.expr(
                f"percentile(n_chars, cast({i} as double)/{_CURR_BUCKETS})"
            ).alias(f"c{i}")
            for i in range(1, _CURR_BUCKETS)
        ]
    )
    bucket_expr = " + ".join(
        f"cast(n_chars > c{i} as int)" for i in range(1, _CURR_BUCKETS)
    )
    b = docs.crossJoin(F.broadcast(cuts)).select(
        "doc_id", "n_chars", F.expr(f"1 + {bucket_expr}").alias("bucket")
    )
    part, off, _total, _ = range_prefix(
        b, ["bucket", "n_chars", "doc_id"], 32
    )
    w = Window.partitionBy("_pid").orderBy("bucket", "n_chars", "doc_id")
    pos = part.join(F.broadcast(off), "_pid").select(
        "doc_id",
        "n_chars",
        "bucket",
        (F.row_number().over(w) + F.col("_row_off")).alias("pos"),
    )
    # each bucket's first global position = 1 + rows in earlier
    # buckets, derived from the PINNED frame's 10-row bucket counts
    # (bounded unpartitioned window — the calendar-frame class), so
    # the ranking-window subtree above `part` is never evaluated a
    # second time just to take min(pos)
    woff = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mins = (
        part.groupBy("bucket")
        .agg(F.count("*").alias("bn"))
        .select(
            "bucket",
            (F.coalesce(F.sum("bn").over(woff), F.lit(0)) + 1).alias("mn"),
        )
    )
    return pos.join(F.broadcast(mins), "bucket").select(
        "doc_id",
        "n_chars",
        F.col("bucket").cast("int").alias("bucket"),
        (F.col("pos") - F.col("mn") + 1).cast("bigint").alias("within_rank"),
        (
            (F.col("pos") - F.col("mn")) * _CURR_STRIDE + F.col("bucket")
        ).cast("bigint").alias("curriculum_key"),
    )


_BPE_TOPK = 20


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate mining: the top-20 most frequent adjacent
    character pairs inside corpus tokens (frequency-weighted — the
    statistic the first byte-pair-encoding merge maximizes).

    Scale: two explodes (token, then in-token position) followed by one
    map-side-combining count and a TakeOrderedAndProject top-k; the
    pair vocabulary is ≤ alphabet², so the final shuffle is tiny
    regardless of corpus size.
    """
    docs = ensure_parallelism(
        load_table(spark, "documents", sf_dir).select("text")
    )
    toks = docs.select(F.explode(F.expr(_TOKS)).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_TOPK)
    )


#: Greedy encode fold, one BIGINT accumulator ``acc = 2·count + skip``:
#: at each char position, if the skip bit is set this char is the tail
#: of a consumed pair (clear the bit, no new token); otherwise emit one
#: token (+2) and set the skip bit when the 2-char window at this
#: position is a vocabulary merge.  Sequential greedy semantics in a
#: single JVM higher-order fold — no Python, no per-char rows.
_GREEDY_ENC = (
    "aggregate(sequence(1, length(w)), cast(0 as bigint),"
    " (acc, i) -> if(acc % 2 = 1, acc - 1,"
    " acc + 2 + if(array_contains(vocab, substring(w, i, 2)),"
    " cast(1 as bigint), cast(0 as bigint)))) div 2"
)


def _bpe_compression(
    spark: SparkSession, sf_dir: str, vocab: DataFrame, encode: str
) -> DataFrame:
    """Per doc: word, char and BPE-token counts and the chars-per-token
    ``compression``.  ``encode`` is the Spark SQL token count of word
    ``w`` against the ONE-row ``vocab`` frame (broadcast); it runs once
    per distinct word TYPE, and the per-word counts join back on the
    type key and reduce per doc with map-side combine."""
    docs = ensure_parallelism(load_table(spark, "documents", sf_dir).select("doc_id", "text"))
    toks = docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("w"))
    wt = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    enc = (
        wt.select("w")
        .distinct()
        .join(F.broadcast(vocab))
        .withColumn("cnt", F.expr(encode))
        .select("w", "cnt")
    )
    per = (
        wt.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_words"),
            F.sum(F.col("tf") * F.length("w")).alias("n_chars"),
            F.sum(F.col("tf") * F.col("cnt")).alias("n_bpe_tokens"),
        )
    )
    return per.withColumn(
        "compression", _fl4(F.col("n_chars") / F.col("n_bpe_tokens"))
    )


def tokenize_bpe_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: greedy longest-match encode of every document
    against the mined merge vocabulary (the ``bpe_pair_counts`` top-20
    pairs + implicit single characters) — the step that turns the
    corpus-prep story (gate → dedup → decontam → shuffle) into model
    input.  Per doc: word count, char count, emitted BPE-unit count,
    and the chars-per-token compression ratio (the statistic tokenizer
    training monitors).

    With merge width 2 the greedy scan is a left fold with a
    2-state accumulator (see ``_GREEDY_ENC``), so the whole encode
    runs inside one JVM expression per word — deterministic and
    identically expressible as DuckDB ``list_reduce``.

    Scale: the vocabulary is a 20-row frame collapsed to ONE broadcast
    row (same 1-row-broadcast pattern as ``mix_domain_weights``), and
    the fold runs once per distinct word TYPE, not per occurrence —
    occurrences collapse to (word, tf) counts first (the same
    type-collapse discipline as ``lm_bigram_score``: on a Zipfian
    corpus the head words dominate occurrence counts, so per-type
    encoding cuts the fold work by orders of magnitude), then the
    per-word token counts join back on the word-type key and reduce
    per doc with map-side combine.
    """
    vocab = bpe_pair_counts(spark, sf_dir).groupBy().agg(
        F.collect_list("pair").alias("vocab")
    )
    return _bpe_compression(spark, sf_dir, vocab, _GREEDY_ENC)


#: 20 rounds = the same vocabulary BUDGET as ``bpe_pair_counts``'s
#: top-20, so the iterated-vs-single-round compression comparison is
#: apples-to-apples (measured at sf0.01: 1.38 vs 1.29 chars/token).
_BPE_ITER_ROUNDS = 20

#: Greedy left-to-right application of ONE merge (_ml, _mr) to a symbol
#: array `s` — the BPE training inner loop (Sennrich et al. 2016 §3.2).
#: A struct-accumulator JVM fold: `k` marks "next element already
#: consumed by a merge"; non-overlapping, identical to the reference
#: algorithm's scan.  element_at(s, i+1) is guarded by the
#: short-circuiting `i < size(s)` (ANSI-safe).
_BPE_APPLY = (
    "aggregate(sequence(1, size(s)),"
    " named_struct('o', cast(array() as array<string>), 'k', false),"
    " (acc, i) -> if(acc.k,"
    "   named_struct('o', acc.o, 'k', false),"
    "   if(i < size(s) and element_at(s, i) = _ml and element_at(s, i + 1) = _mr,"
    "      named_struct('o', concat(acc.o, array(concat(_ml, _mr))), 'k', true),"
    "      named_struct('o', concat(acc.o, array(element_at(s, i))), 'k', false)))"
    ").o"
)

#: Greedy LONGEST-MATCH encode against the iterated merge vocabulary
#: (array column `units` + implicit single characters): at each char
#: position either burn a skip credit (inside a consumed unit) or emit
#: one token and take max match length over the units.  One bigint
#: accumulator `acc = cnt·1024 + skip` (unit length < 1024 by
#: construction: ≤ 2^rounds).
_BPE_ITER_ENC = (
    "aggregate(sequence(1, length(w)), cast(0 as bigint),"
    " (acc, i) -> if(acc % 1024 > 0, acc - 1,"
    "   acc + 1023 + array_max(transform(units,"
    "     u -> if(substring(w, i, length(u)) = u,"
    "             cast(length(u) as bigint), cast(1 as bigint))))))"
    " div 1024"
)


def _bpe_iter_state(spark: SparkSession, sf_dir: str):
    """(merges, final_syms) of ``_BPE_ITER_ROUNDS`` sequential BPE merge
    rounds over the word-TYPE table — session-cached: the iteration
    materializes one tiny frame per round (one row per word type), so
    repeated constructions reuse the mined state.  Cache misses run the
    round jobs at construction time (see stage_cache module doc)."""

    def _build():
        docs = ensure_parallelism(
            load_table(spark, "documents", sf_dir).select("text")
        )
        wt = (
            docs.select(F.explode(F.expr(_TOKS)).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("tf"))
        )
        syms = materialize(
            wt.withColumn("s", F.expr("filter(split(w, ''), x -> x != '')"))
        )
        # Size the ROUND frames by the type count, not by the corpus
        # shuffle width: the type table is the Zipf-collapsed word
        # vocabulary (31 rows at sf0.1), and each of the 20 round jobs
        # otherwise schedules ~70 near-empty tasks for it (measured
        # ~0.4 s/round of pure scheduling).  coalesce can only NARROW —
        # at 100 TB the multi-million-type table keeps one partition
        # per ~50k types (bounded per-task fold work); the count is a
        # ~50 ms scan of the checkpoint just written.
        rp = max(1, syms.count() // 50_000 + 1)
        if rp < syms.rdd.getNumPartitions():
            syms = syms.coalesce(rp)
        merges = []
        # The 20 round jobs run over the BOUNDED type table (explicitly
        # sized by rp above), where AQE's value (bytes-coalescing, skew
        # splitting) is nil and its per-stage re-optimization latency
        # is charged ~3 stages × 20 rounds (measured warm in-process
        # A/B ×2: loop 5.0-6.3 s with AQE, 3.8-4.7 s without).  Scoped
        # to the loop and restored — the corpus-scale init above keeps
        # AQE.  Re-measured with tools/ab.py at sf0.1 (2 × 5 interleaved
        # pairs): with AQE on, the query runs 20 more jobs in each of
        # build and exec and was slower in all 10 pairs.
        # The write is SESSION-WIDE: no other query may be built or run
        # concurrently on this session while the loop runs — it would
        # plan with AQE off, and its own restore could re-enable AQE
        # mid-loop.
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            for r in range(1, _BPE_ITER_ROUNDS + 1):
                pairs = (
                    # the size guard matters: Spark sequence(1, 0) DESCENDS
                    # ([1, 0]), so a 1-symbol word would index out of bounds
                    syms.filter(F.size("s") >= 2)
                    .select(
                        "tf",
                        F.explode(
                            F.expr(
                                "transform(sequence(1, size(s) - 1),"
                                " i -> concat(element_at(s, i), char(31),"
                                "             element_at(s, i + 1)))"
                            )
                        ).alias("pk"),
                    )
                    .groupBy("pk")
                    .agg(F.sum("tf").alias("n"))
                )
                # the argmax merge of this round; (n desc, pk asc) total
                # order makes the pick deterministic in both engines
                top = pairs.orderBy(F.desc("n"), F.asc("pk")).limit(1).select(
                    F.expr("split(pk, char(31))[0]").alias("ml"),
                    F.expr("split(pk, char(31))[1]").alias("mr"),
                    "n",
                )
                # ONE materialization per round (was two: argmax checkpoint
                # + apply checkpoint — 40 sequential driver actions for 20
                # rounds): the 1-row argmax rides the apply job as a
                # broadcast subtree, and the round's merge row is read back
                # off the checkpointed per-type frame, where the broadcast
                # columns are constant across rows (filter+limit(1) is
                # deterministic because every surviving row carries the
                # same single top row).  char(30) sentinel keeps the fold
                # an identity if a round ever finds no pair (left join);
                # that round then contributes no merge row, exactly as the
                # empty-argmax frame did before.
                nxt = materialize(
                    syms.join(F.broadcast(top), F.lit(True), "left")
                    .withColumn("_ml", F.expr("coalesce(ml, char(30))"))
                    .withColumn("_mr", F.expr("coalesce(mr, char(30))"))
                    .select(
                        "w", "tf", F.expr(_BPE_APPLY).alias("s"), "ml", "mr", "n"
                    )
                    .coalesce(rp)
                )
                merges.append(
                    nxt.filter(F.col("ml").isNotNull())
                    .limit(1)
                    .select(
                        F.lit(r).cast("bigint").alias("merge_round"),
                        F.col("ml").alias("lhs"),
                        F.col("mr").alias("rhs"),
                        "n",
                    )
                )
                syms = nxt.select("w", "tf", "s")
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        out = merges[0]
        for m in merges[1:]:
            out = out.unionByName(m)
        return out, syms

    return stage_cache.get_or_build(spark, "bpe_iter", sf_dir, _build)


def bpe_merges_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE BPE merge mining (Sennrich et al. 2016): k sequential
    rounds of (count adjacent symbol pairs over the corpus → take the
    argmax pair → merge it everywhere → re-count) — the real tokenizer-
    training loop, where ``bpe_pair_counts`` is only round one's
    candidate table.  Output: one row per round with the merged pair
    and its (frequency-weighted) count at selection time.

    Scale: the whole iteration runs on the word-TYPE table (distinct
    words + global tf — the Zipf type-collapse of ``lm_bigram_score``),
    so each round is one bounded aggregation over |types| rows, one
    1-row argmax, and one per-type fold; corpus size only enters
    through the initial type count, which grows sublinearly.  Each
    round localCheckpoints (plan stays constant-size across rounds —
    the round-3 CC lesson); the mined state is session-cached.
    """
    merges, _syms = _bpe_iter_state(spark, sf_dir)
    return merges


def tokenize_bpe_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer apply for the ITERATED vocabulary: greedy longest-match
    encode of every document against the k mined merge units (variable
    width — merges compose, e.g. ('t','h')→'th' then ('th','e')→'the')
    plus implicit single characters.  Same output shape as
    ``tokenize_bpe_greedy``; the chars-per-token ``compression`` is the
    statistic that shows iterated merges beating the single-round pair
    vocabulary.

    Scale: identical topology to ``tokenize_bpe_greedy`` — the unit
    array is ONE broadcast row, the fold runs once per distinct word
    TYPE, and per-doc stats reduce with map-side combine.
    """
    merges, _syms = _bpe_iter_state(spark, sf_dir)
    vocab = (
        merges.select(F.concat("lhs", "rhs").alias("u"))
        .distinct()
        .groupBy()
        .agg(F.expr("array_sort(collect_list(u))").alias("units"))
    )
    return _bpe_compression(spark, sf_dir, vocab, _BPE_ITER_ENC)


_INDEX_TOPK = 30


def inverted_index_topdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index profile: for the 30 highest-document-frequency
    terms, the posting-list summary (df, doc_id checksum, first/last
    posting) — the build-side statistics of a sparse retrieval index,
    emitted as checksums so the result is order-independent.

    Scale: distinct (doc, term) pairs combine map-side; the per-term
    fold is a bounded-vocabulary aggregation; top-k is
    TakeOrderedAndProject (no global sort).
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    postings = docs.select(
        "doc_id", F.explode(F.expr(_TOKS)).alias("term")
    ).distinct()
    return (
        postings.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("doc_id").alias("postings_checksum"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(_INDEX_TOPK)
    )


def doc_token_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, g) hashed ``_SUBSTR_N``-token grams of a (doc_id, text)
    frame — the shared gram pipeline of ``decontam_eval_overlap`` and
    the streaming decontamination shape (tests/test_streaming_decontam):
    tokenize, slide the fixed-width window, hash each gram to one
    8-byte key.  Documents shorter than the gram width emit nothing.

    The tokenize→window→hash chain is scan-side per-row compute; the
    parallelism guard spreads a single-split small input across the
    cluster (no-op at scale — see functions/parallel.py)."""
    toks = (
        ensure_parallelism(docs)
        .select("doc_id", F.expr(_TOKS).alias("toks"))
        .filter(F.size("toks") >= _SUBSTR_N)
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {_SUBSTR_N} + 1),"
                f" i -> array_join(slice(toks, i, {_SUBSTR_N}), ' '))"
            )
        ).alias("gram"),
    ).select("doc_id", F.expr(_BIGHASH.format(e="gram")).alias("g"))


_EVAL_MOD = 97  # doc_id % 97 == 0 → held-out "benchmark" set
#: Broadcast the eval gram set only below this row count (~16 bytes/row
#: → ~32 MB at the limit, well inside executor broadcast budgets); a
#: larger eval side falls back to a plain shuffled equi-join.  Module
#: constant so the plan test can exercise both paths.
_EVAL_BCAST_LIMIT = 2_000_000


def decontam_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (the n-gram-collision pass every
    pre-training pipeline runs before a model ships — e.g. GPT-3
    appendix C / PaLM §6): a deterministic held-out slice
    (``doc_id % 97 = 0``) stands in for the benchmark suite, and every
    TRAINING document is scored by how many of its 8-token grams also
    appear in any eval document.

    Output per training doc: distinct-gram count, number of distinct
    contaminated grams, number of distinct eval docs hit, and the
    ``contaminated`` verdict.

    Scale: benchmarks are tiny next to a 100 TB corpus, so the eval
    gram set (hashed to 8-byte keys, aggregated) is broadcast and the
    train side never shuffles — the plan is scan → explode → distinct
    per-doc grams (map-side combine) → broadcast-hash join → per-doc
    fold.  But the broadcast is COUNT-GATED, not forced: the eval gram
    frame is materialized once (localCheckpoint), counted, and only
    hinted broadcast below ``_EVAL_BCAST_LIMIT`` rows — above it (an
    "eval" slice that is really a corpus split) the join degrades to a
    plain shuffled equi-join on the 8-byte key instead of OOMing the
    executors, the same discipline the TF-IDF document-frequency frame
    uses (SCALE.md).
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return _decontam_overlap_from_grams(spark, sf_dir, doc_token_grams(docs))


def _decontam_overlap_from_grams(
    spark: SparkSession, sf_dir: str, grams: DataFrame
) -> DataFrame:
    """Decontamination overlap over a pre-built (doc_id, g) gram frame
    (the funnel composition feeds grams derived from its shared
    tokenized frame; the standalone query builds its own)."""
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    train = grams.filter(~is_eval).distinct()

    def _build() -> tuple[DataFrame, bool]:
        eval_grams = materialize(
            grams.filter(is_eval)
            .groupBy("g")
            .agg(F.count_distinct("doc_id").alias("n_eval_docs"))
            # materialized once so the size probe doesn't recompute the
            # explode/aggregate pipeline when the join consumes it;
            # the checkpoint+count runs at DataFrame-CONSTRUCTION time
            # on a cache miss (see stage_cache module doc)
        )
        return eval_grams, eval_grams.count() <= _EVAL_BCAST_LIMIT

    eval_grams, fits_broadcast = stage_cache.get_or_build(
        spark, "decontam_eval_grams", f"{sf_dir}|{_EVAL_BCAST_LIMIT}", _build
    )
    eval_side = F.broadcast(eval_grams) if fits_broadcast else eval_grams
    joined = train.join(eval_side, "g", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_grams"),
            F.count("n_eval_docs").alias("n_contaminated_grams"),
            F.coalesce(F.sum("n_eval_docs"), F.lit(0)).alias("eval_doc_hits"),
        )
        .withColumn("contaminated", F.col("n_contaminated_grams") > 0)
    )


def decontam_leakage_by_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVAL-document leakage report — the reverse direction of
    ``decontam_eval_overlap``: for each held-out benchmark document,
    how many of its 8-token grams appear in ≥1 training document, how
    many training documents they hit, and the leaked-gram fraction.
    This is the table a benchmark owner reads to decide whether a
    benchmark is compromised (GPT-3 appendix C reports exactly this
    per-benchmark "dirtiness"), where the forward report drives
    training-doc removal.

    Scale: the train side is pruned scan-side by a broadcast of the
    eval gram SET before any aggregation — at 100 TB the corpus never
    shuffles; only eval-colliding (train doc, gram) pairs reach the
    distinct+count, and that frame is bounded by |eval grams| ×
    collision fanout.  The broadcast reuses the decontam session cache
    and its count-gate verdict: an oversized "eval" slice degrades to
    the shuffled join instead of OOMing, exactly like the forward pass.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    grams = doc_token_grams(docs)
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    ev = grams.filter(is_eval).distinct()

    def _build() -> tuple[DataFrame, bool]:
        eval_grams = materialize(
            grams.filter(is_eval)
            .groupBy("g")
            .agg(F.count_distinct("doc_id").alias("n_eval_docs"))
        )
        return eval_grams, eval_grams.count() <= _EVAL_BCAST_LIMIT

    eval_grams, fits = stage_cache.get_or_build(
        spark, "decontam_eval_grams", f"{sf_dir}|{_EVAL_BCAST_LIMIT}", _build
    )
    ev_g = eval_grams.select("g")
    prune_side = F.broadcast(ev_g) if fits else ev_g
    hits = (
        grams.filter(~is_eval)
        .join(prune_side, "g")
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("n_train_docs"))
    )
    hit_side = F.broadcast(hits) if fits else hits
    per = (
        ev.join(hit_side, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_grams"),
            F.count("n_train_docs").alias("n_leaked_grams"),
            F.coalesce(F.sum("n_train_docs"), F.lit(0)).alias(
                "train_doc_hits"
            ),
        )
    )
    return per.select(
        "doc_id",
        "n_distinct_grams",
        "n_leaked_grams",
        "train_doc_hits",
        F.expr(
            _RATIO_SPARK.format(n="n_leaked_grams", d="n_distinct_grams")
        ).alias("leak_frac_scaled"),
        (F.col("n_leaked_grams") > 0).alias("leaked"),
    )


_FUZZY_INJECT_BELOW = 10 * _EVAL_MOD  # paraphrase ≤10 eval docs (fixture)
_FUZZY_PARA_OFFSET = 200_000  # paraphrase doc_id offset (200000 % 97 = 83 ≠ 0)
_FUZZY_T = 0.5  # shingle-Jaccard threshold for the fuzzy verdict


def decontam_minhash_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY test-set decontamination: the exact-gram pass
    (``decontam_eval_overlap``) only catches verbatim leakage — an
    8-token gram survives zero edits — while benchmark text commonly
    re-enters training sets lightly paraphrased (reworded prompts,
    dropped prefixes, whitespace-normalized scrapes; the Llama 2 and
    GPT-4 reports both run a fuzzy pass for exactly this reason).  This
    operator runs the MinHash-LSH near-duplicate topology BETWEEN
    slices: candidate (train, eval) pairs from banded-signature
    collisions, verified by exact 3-gram-shingle Jaccard, reported per
    train document with the fuzzy verdict at J ≥ ``_FUZZY_T``.

    Fixture note (the ``_with_injected_dups`` pattern, dedup.py:71): the
    random-word corpus has no natural paraphrases, so the corpus is
    augmented with a deterministic drop-first-token copy of each eval
    doc with doc_id < ``_FUZZY_INJECT_BELOW``, offset by
    ``_FUZZY_PARA_OFFSET`` (≡ 83 mod 97 — always lands in the TRAIN
    slice).  Those copies share all but one shingle with their source
    (J ≈ 1 but < 1), i.e. exactly the leakage the exact-gram pass CAN
    also see but a whole-document hash cannot; the same machinery flags
    J-0.5 paraphrases that break every 8-gram.

    Output: only train docs with ≥1 LSH candidate (absent = clean) —
    (doc_id, n_eval_candidates, best_eval_doc, best_jaccard,
    contaminated_fuzzy).

    Scale: signatures/bands are the shared MinHash pipeline (map-side
    partial min; shuffle bounded at |docs|·seeds rows); the benchmark
    side is tiny by definition, so its band table AND its shingle set
    broadcast — the training corpus is pruned to band-colliding docs
    scan-side and never shuffles for verification; only candidate
    (train, eval) pairs pay the exact-Jaccard join.  An oversized eval
    slice would degrade these to shuffled equi-joins on band/shingle
    keys (the decontam count-gate discipline) — no all-pairs stage
    exists anywhere.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    para = (
        docs.filter(
            (F.col("doc_id") % _EVAL_MOD == 0)
            & (F.col("doc_id") < _FUZZY_INJECT_BELOW)
        )
        .withColumn("toks", F.expr(_TOKS))
        .select(
            (F.col("doc_id") + _FUZZY_PARA_OFFSET).alias("doc_id"),
            F.expr(
                "array_join(slice(toks, 2, greatest(size(toks) - 1, 0)), ' ')"
            ).alias("text"),
        )
    )
    corpus = docs.unionByName(para)
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    sh = materialize(_doc_shingles(corpus))
    bands = _band_table(sh)
    be = bands.filter(is_eval).select(
        F.col("doc_id").alias("eval_doc"),
        F.col("band").alias("eband"),
        F.col("band_sig").alias("esig"),
    )
    cand = (
        bands.filter(~is_eval)
        .join(
            F.broadcast(be),
            (F.col("band") == F.col("eband"))
            & (F.col("band_sig") == F.col("esig")),
        )
        .select("doc_id", "eval_doc")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sh_eval = sh.filter(is_eval).select(
        F.col("doc_id").alias("ev2"), F.col("shingle").alias("eshingle")
    )
    inter = (
        cand.join(sh, "doc_id")
        .join(
            F.broadcast(sh_eval),
            (F.col("eval_doc") == F.col("ev2"))
            & (F.col("shingle") == F.col("eshingle")),
        )
        .groupBy("doc_id", "eval_doc")
        .agg(F.count("*").alias("n_inter"))
    )
    esizes = sizes.select(
        F.col("doc_id").alias("eval_doc"), F.col("n_sh").alias("e_sh")
    )
    pairs = (
        cand.join(inter, ["doc_id", "eval_doc"], "left")
        .withColumn("ni", F.coalesce("n_inter", F.lit(0)))
        .join(sizes, "doc_id")
        .join(F.broadcast(esizes), "eval_doc")
        .withColumn(
            "jaccard",
            F.round(
                F.col("ni") / (F.col("n_sh") + F.col("e_sh") - F.col("ni")), 4
            ),
        )
    )
    return (
        pairs.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_eval_candidates"),
            F.max("jaccard").alias("best_jaccard"),
            F.max_by(
                "eval_doc",
                F.struct(F.col("jaccard"), (-F.col("eval_doc")).alias("ne")),
            ).alias("best_eval_doc"),
        )
        .select(
            "doc_id",
            "n_eval_candidates",
            "best_eval_doc",
            "best_jaccard",
            (F.col("best_jaccard") >= _FUZZY_T).alias("contaminated_fuzzy"),
        )
    )


_QCLS_BUCKETS = 4096  # hashed feature space of the linear classifier
_QCLS_WRANGE = 1000  # weights span [-1000, 1000] (3-decimal fixed point)


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, the classifier-APPLY shape every
    current pipeline runs after the heuristic gates (FineWeb-Edu's
    educational-value scorer, DCLM's fastText filter): score each
    document with a linear model over hashed bag-of-words features and
    keep documents above threshold.  The score is the tf-weighted mean
    of per-bucket weights: ``(Σ_w tf(w)·W[bucket(w)])·1000 div
    n_tokens`` — exact integer arithmetic end to end.

    The weight vector is a DETERMINISTIC STAND-IN (md5-derived values
    in [-1000, 1000] per bucket — no trained model
    ships in this container); the operator's substance is the apply
    plumbing, which is exactly what a trained fastText/regression head
    needs: tokens hash into a fixed 4096-bucket space
    scan-side, the weight table is a bounded broadcast joined against
    the token stream, and the per-document reduction is one map-side-
    combining aggregation.  Swapping real weights in is a data change
    (load the table instead of deriving it), not a plan change.

    Scale: the weight table is {_QCLS_BUCKETS} rows by construction —
    broadcast is safe at any corpus size; the corpus never shuffles
    except the per-doc sum (bounded keys, partial agg).  Overflow:
    |tf·w| ≤ n_tokens·1000, so the pre-division product
    stays < 2^53 for documents up to ~9e9 tokens.
    """
    return classifier_score(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )


def classifier_score(docs: DataFrame) -> DataFrame:
    """Frame-level classifier apply over (doc_id, text) — shared by the
    batch query and streaming micro-batch application."""
    tok = docs.select("doc_id", F.expr(_TOKS).alias("toks"))
    spark = tok.sparkSession
    words = tok.select("doc_id", F.explode("toks").alias("w"))
    feats = words.select(
        "doc_id",
        (F.expr(_BIGHASH.format(e="w")) % _QCLS_BUCKETS).alias("bucket"),
    )
    weights = spark.range(_QCLS_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            F.expr(_BIGHASH.format(e="concat('qw:', cast(id as string))"))
            % (2 * _QCLS_WRANGE + 1)
            - _QCLS_WRANGE
        ).alias("wgt"),
    )
    scored = feats.join(F.broadcast(weights), "bucket")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("wgt").alias("raw"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("(raw * 1000) div n_tokens").alias("score_scaled"),
            (F.expr("(raw * 1000) div n_tokens") >= 0).alias("keep"),
        )
    )


_BUDGET_TOKENS = 10_000_000  # planning budget (fixture-scale "run")


def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget PLANNING table: given a total training budget and
    the τ=2 temperature mixture over (source, lang) domains
    (``mix_domain_weights``), how many tokens each domain contributes,
    how many epochs of the domain that implies, and whether the domain
    must repeat (epochs > 1) — the table a pre-training run is actually
    scheduled from (mT5 Table 2, LLaMA's sampling-proportion table).

    Determinism: the temperature weight is integer-scaled at 4dp
    scan-side (``floor(sqrt(share)·1e4 + 0.5)`` — one IEEE division,
    one sqrt, both bit-stable), so the normalization sum, the per-
    domain token target (``budget·w div Σw``) and the epoch count
    (``target·1000 div available``) are exact bigint arithmetic.

    Scale: one map-side-combining corpus aggregation to the domain
    frame; every subsequent step operates on |domains| rows with 1-row
    broadcast totals — no second corpus pass, no driver collect.
    """
    return _budget_targets(spark, sf_dir).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        "weight_scaled",
        "target_tokens",
        F.expr("(target_tokens * 1000) div n_tokens").alias("epochs_milli"),
        (F.col("target_tokens") > F.col("n_tokens")).alias("repeats"),
    )


def _budget_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token targets under ``_BUDGET_TOKENS`` — the shared
    core of the plan query and the epoch-expansion apply (one target
    definition, the gate/grams discipline)."""
    docs = load_table(spark, "documents", sf_dir).select(
        "source", "lang", "text"
    )
    dom = (
        docs.select("source", "lang", F.size(F.expr(_TOKS)).alias("n_toks"))
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_toks").alias("n_tokens"))
    )
    total = dom.groupBy().agg(F.sum("n_tokens").alias("total_tokens"))
    weighted = dom.join(F.broadcast(total)).withColumn(
        "weight_scaled",
        F.expr(
            "cast(floor(sqrt(cast(n_tokens as double) / total_tokens)"
            " * 10000 + 0.5) as bigint)"
        ),
    )
    wsum = weighted.groupBy().agg(F.sum("weight_scaled").alias("w_sum"))
    return weighted.join(F.broadcast(wsum)).withColumn(
        "target_tokens",
        F.expr(f"({_BUDGET_TOKENS} * weight_scaled) div w_sum"),
    )


def budget_epoch_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the token-budget plan: per document, how many copies the
    materialized training list contains — ``target div available``
    full epochs of its domain, plus one more copy with probability
    equal to the fractional remainder, decided by a deterministic
    per-document hash (the ``mix_resample_apply`` discipline: no RNG,
    salt independent of the shuffle/shard hash, reproducible across
    runs and engines).  This is the step between "the plan says 1.7
    epochs of domain X" and an actual training list: every doc appears
    once per full epoch and the remainder epoch samples ~70% of docs,
    so Σ copies·doc_tokens tracks the domain's token target.

    Scale: the per-domain rate table is a tiny broadcast; the copy
    count is a scan-side hash compare — ZERO shuffles beyond the
    domain-stats aggregation the plan already runs; the expansion is
    emitted as a multiplicity COLUMN, not exploded rows, so the frame
    stays corpus-sized no matter how many epochs the budget implies.
    """
    # remainder rate in ppm via the overflow-safe two-step ×1000 ratio
    # (the DSIR discipline): rem < n_tokens, so the largest
    # intermediate is n_tokens·1000 — exact to ~9.2e15 tokens per
    # domain instead of the single-step form's ~9.2e12 (a bound a
    # 100 TB domain can actually cross; Spark would wrap silently
    # where DuckDB raises)
    rem = "(target_tokens % n_tokens)"
    rem_ppm = (
        f"((({rem} * 1000) div n_tokens) * 1000"
        f" + ((({rem} * 1000) % n_tokens) * 1000) div n_tokens)"
    )
    targets = _budget_targets(spark, sf_dir).select(
        "source",
        "lang",
        F.expr("target_tokens div n_tokens").alias("full_epochs"),
        F.expr(rem_ppm).alias("rem_ppm"),
    )
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "lang"
    )
    acc = (
        F.expr(
            _BIGHASH.format(e="concat(cast(doc_id as string), ':epoch')")
        )
        % 1_000_000
    )
    return docs.join(F.broadcast(targets), ["source", "lang"]).select(
        "doc_id",
        "source",
        "lang",
        (F.col("full_epochs") + (acc < F.col("rem_ppm")).cast("bigint")).alias(
            "n_copies"
        ),
    )


_DSIR_BUCKETS = 4096  # hashed feature space (DSIR's dimensionality trick)
_DSIR_TARGET_LANG = "en"  # deterministic stand-in for the target corpus


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance weights à la DSIR (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    hash every document's unigram+bigram features into a fixed
    ``_DSIR_BUCKETS``-dimensional space, estimate target (here: the
    ``en`` slice) and raw feature distributions from bucket counts, and
    score each document by its average per-feature likelihood ratio —
    high scores mark documents that look like the target domain and
    drive the resampling step of the recipe.

    The ratio is kept in the LINEAR domain with integer scaling
    (``cnt_target·1e6 div cnt_raw``, then a tf-weighted integer mean)
    rather than DSIR's log-domain sum: libm ``log`` is not bit-stable
    across engines, integer division is — so the DuckDB oracle matches
    exactly.  Unseen-in-target buckets contribute 0 (no smoothing
    needed: every bucket a document emits exists in the raw counts).

    Overflow bound (cf. the 2^53 analysis in ``ann_ivf_refined``): the
    scaled ratio is computed in TWO exact integer steps of ×1000 each —
    ``hi = (c_tgt·1000) div c_raw; r = hi·1000 + ((c_tgt·1000) mod
    c_raw)·1000 div c_raw`` — algebraically identical to
    ``(c_tgt·1e6) div c_raw`` (both engines floor toward zero on
    non-negative counts) but the largest intermediate is
    ``max(c_tgt, c_raw)·1000``, so BIGINT arithmetic is exact up to
    ~9.2e15 occurrences per bucket instead of the single-step form's
    ~9.2e12 — at the 100 TB narrative (~5e13 total features over 4096
    buckets) even a fully-skewed bucket stays 3 orders of magnitude
    inside the bound, where the naive form could silently wrap in
    Spark while DuckDB raised.

    Scale: features hash to ≤4096 buckets BY CONSTRUCTION, so both
    distribution frames are bounded and force-broadcast is safe (the
    data-dependent decontam gate is unnecessary here); per-doc TYPE
    counts collapse occurrences before any join (the lm_bigram_score
    shape); the per-doc fold is a bigint sum + integer division.
    """
    docs = ensure_parallelism(load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "text"
    ))
    toks = docs.select("doc_id", "lang", F.expr(_TOKS).alias("toks")).filter(
        F.size("toks") >= 1
    )
    feats = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "concat(toks, case when size(toks) < 2 then array()"
                " else transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), char(31),"
                "             element_at(toks, i + 1))) end)"
            )
        ).alias("f"),
    ).select(
        "doc_id",
        "lang",
        F.expr(f"({_BIGHASH.format(e='f')}) % {_DSIR_BUCKETS}").alias("b"),
    )
    # doc_tf feeds both distribution frames AND the scoring join —
    # materialize once (the lm_bigram_score three-consumer discipline)
    doc_tf = materialize(
        feats.groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("tf"))
    )
    cnt_raw = doc_tf.groupBy("b").agg(F.sum("tf").alias("c_raw"))
    cnt_tgt = (
        doc_tf.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.sum("tf").alias("c_tgt"))
    )
    scored = (
        doc_tf.join(F.broadcast(cnt_raw), "b")
        .join(F.broadcast(cnt_tgt), "b", "left")
        .withColumn(
            "r_scaled",
            # two-step ×1000 form: exact floor(c_tgt·1e6 / c_raw) with
            # intermediates ≤ max(c_tgt, c_raw)·1000 (see docstring)
            F.expr(
                "((coalesce(c_tgt, 0) * 1000) div c_raw) * 1000"
                " + (((coalesce(c_tgt, 0) * 1000) % c_raw) * 1000)"
                " div c_raw"
            ),
        )
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.sum("tf").alias("n_feats"),
        F.expr("sum(tf * r_scaled) div sum(tf)").alias("imp_scaled"),
    )


_MIX_SCALE = 1_000_000  # integer-scaled corpus share


def mix_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weights per (source, lang) domain: document and
    token counts, the integer-scaled corpus share, and the
    temperature-flattened sampling weight ``share^(1/2)`` every
    multi-domain pre-training recipe uses to up-weight small domains
    (the τ=2 temperature mixture of mT5/XLM-R; DoReMi's starting
    point).  sqrt is IEEE-exact in both engines; the result is
    floor-rounded to 4dp for hash stability.

    Scale: one map-side-combining aggregation over the corpus to the
    tiny domain frame, then a single-row total broadcast-joined back —
    no full-data second pass, no driver collect.
    """
    docs = load_table(spark, "documents", sf_dir).select(
        "source", "lang", "text"
    )
    toks = docs.select(
        "source", "lang", F.size(F.expr(_TOKS)).alias("n_toks")
    )
    dom = toks.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )
    total = dom.groupBy().agg(F.sum("n_tokens").alias("total_tokens"))
    out = dom.join(F.broadcast(total))
    return out.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.expr(f"(n_tokens * {_MIX_SCALE}) div total_tokens").alias(
            "share_scaled"
        ),
        _fl4(
            F.sqrt(F.col("n_tokens").cast("double") / F.col("total_tokens"))
        ).alias("temp_weight"),
    )


def mix_resample_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the temperature mixture: deterministic per-domain document
    resampling toward the τ=2 target shares ``mix_domain_weights``
    computes — the step that turns mixture weights into an actual
    training corpus (what mT5/XLM-R do between "compute weights" and
    "train").  Per domain, acceptance rate = min(1, target_share /
    actual_share) in exact integer arithmetic; per document, keep iff
    ``md5-hash(doc_id:resample) mod 1e6 < rate`` — reproducible across
    runs and engines, no RNG, and INDEPENDENT of the shuffle/shard
    hash (different salt).  Domains above their target are downsampled
    proportionally; domains below keep everything (up-sampling is a
    repeat-epoch concern, not a filter).  Output per domain: document
    counts before/after and the applied rate.

    Scale: the domain rate table is a tiny broadcast (one row per
    (source, lang)); acceptance is a scan-side hash compare; the only
    shuffle is the final per-domain count — map-side combining.
    """
    docs = load_table(spark, "documents", sf_dir).select(
        "source", "lang", "doc_id"
    )
    dom = mix_domain_weights(spark, sf_dir).select(
        "source",
        "lang",
        "share_scaled",
        # temp_weight is 4dp-floored, so ×1e4 + 0.5 floor recovers the
        # exact integer in both engines
        F.expr("cast(floor(temp_weight * 10000 + 0.5) as bigint)").alias(
            "w"
        ),
    )
    wsum = dom.groupBy().agg(F.sum("w").alias("w_sum"))
    acc = (
        dom.join(F.broadcast(wsum))
        .withColumn(
            "accept_scaled",
            F.expr(
                "least(1000000, ((w * 1000000) div w_sum) * 1000000"
                " div greatest(share_scaled, 1))"
            ),
        )
        .select("source", "lang", "accept_scaled")
    )
    scored = docs.join(F.broadcast(acc), ["source", "lang"]).withColumn(
        "hv",
        F.expr(
            _BIGHASH.format(e="concat(cast(doc_id as string), ':resample')")
            + " % 1000000"
        ),
    )
    return scored.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("hv") < F.col("accept_scaled"), 1)).alias(
            "n_kept"
        ),
        F.max("accept_scaled").alias("accept_scaled"),
    )


def quality_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter ABLATION agreement matrix: the 2×2×2 contingency table of
    the three quality gates (Gopher heuristics, Gopher repetition
    rules, the hashed linear classifier) over every document — the
    table a curation team reads to decide which filters are redundant
    and which disagree enough to keep (the FineWeb and RefinedWeb
    ablations tabulate exactly this before choosing their filter
    stack).  A cell like (keep_gopher=true, keep_repetition=true,
    keep_classifier=false) counts documents only the classifier would
    remove; ``frac_scaled`` is the cell's ppm share of the corpus.

    Documents a gate never scores (zero tokens → no per-doc row)
    coalesce to keep=false — the funnel's conservative convention for
    keep-shaped verdicts.

    Scale: the three stage pipelines come through the session
    ``stage_cache`` (the gopher/repetition frames are shared with
    ``corpus_funnel_report`` under the same keys); the joins are
    doc_id equi-joins of per-doc verdict frames — co-partitioned by
    the same key at any scale — and the output is 8 rows + a 1-row
    total broadcast.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    # the three gate pipelines are independent — overlap their jobs
    # (guide §2.6) instead of materializing them one after another.
    # NOT shared here: one materialized tokenized frame feeding all
    # gates (VERDICT r13 #3) — measured and REJECTED in r14: the toks
    # build serializes ahead of every gate while the per-gate splits
    # run inside already-overlapped jobs (interleaved A/B best-of-3:
    # 1.14 s shared-toks 1.68 s), and at 100 TB it trades one extra
    # corpus-scale checkpoint WRITE for re-running a cheap regex split
    # inside scans that happen anyway — see OPTIMIZATION_r14.md.
    gopher, rep, cls = stage_cache.build_many(
        spark,
        [
            (
                f"funnel:{stage}",
                sf_dir,
                lambda fn=fn: materialize(
                    fn(spark, sf_dir).select("doc_id", "keep")
                ),
            )
            for stage, fn in (
                ("gopher", quality_gopher_flags),
                ("repetition", quality_repetition_flags),
                ("qcls", quality_classifier_score),
            )
        ],
    )
    j = (
        docs.join(gopher.withColumnRenamed("keep", "kg"), "doc_id", "left")
        .join(rep.withColumnRenamed("keep", "kr"), "doc_id", "left")
        .join(cls.withColumnRenamed("keep", "kc"), "doc_id", "left")
        .select(
            F.coalesce("kg", F.lit(False)).alias("keep_gopher"),
            F.coalesce("kr", F.lit(False)).alias("keep_repetition"),
            F.coalesce("kc", F.lit(False)).alias("keep_classifier"),
        )
    )
    tot = docs.groupBy().agg(F.count("*").alias("n_total"))
    return (
        j.groupBy("keep_gopher", "keep_repetition", "keep_classifier")
        .agg(F.count("*").alias("n_docs"))
        .join(F.broadcast(tot))
        .select(
            "keep_gopher",
            "keep_repetition",
            "keep_classifier",
            "n_docs",
            F.expr("(n_docs * 1000000) div n_total").alias("frac_scaled"),
        )
    )


def corpus_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline YIELD report: how many documents survive each stage of
    the corpus-prep funnel — the one-page number every data-curation
    run publishes (cf. the filtering tables in Gopher/RefinedWeb/
    FineWeb papers).  Stages compose CUMULATIVELY:

      0 total                — corpus size
      1 gopher_quality       — passes the Gopher word gate (``keep``)
      2 low_repetition       — passes the Gopher repetition rules
      3 classifier_quality   — passes the model-based quality gate
      4 exact_substring_dedup— not flagged by keep-first substring dedup
      5 holdout_removed      — not in the held-out eval slice
      6 decontaminated       — no eval n-gram collision

    Absent-from-frame handling is ASYMMETRIC by stage shape, and the
    coalesce defaults encode exactly that: for the FLAG-shaped stages
    (``flagged``, ``contaminated``) a document too short to emit grams
    has nothing to collide, so coalesce(flag, false) means "passes
    vacuously"; for the KEEP-shaped gopher stage, absence means the
    document produced zero words, which FAILS the word-count band —
    coalesce(keep, false) marks it dropped, the same verdict
    ``quality_gopher_flags`` would emit if it produced a row (it emits
    one for every document with ≥1 token); the classifier stage is
    keep-shaped with the same zero-token convention.

    Scale: reuses the stage operators (each already
    shuffle-linear), left equi-joins on doc_id, then ONE
    global fold to a 7-row frame via conditional counts + stack — no
    new shuffle shapes.  Stage outputs come through the session
    ``stage_cache`` (localCheckpoint'd on first use), so a session that
    builds the funnel repeatedly reuses the materialized stages instead
    of re-running their pipelines; cache misses run the stage jobs at
    construction time (see stage_cache module doc).
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    # the five stage pipelines are independent of each other — overlap
    # their jobs from a small driver pool (guide §2.6) so the funnel
    # pays ~max(stage) instead of sum(stage).  A shared materialized
    # tokenized frame (VERDICT r13 #3) was measured and REJECTED in
    # r14 — it serializes a toks build ahead of the overlapped gates
    # and regressed both compositions (see quality_filter_agreement
    # and OPTIMIZATION_r14.md).
    gopher, rep, cls, sub, dec = stage_cache.build_many(
        spark,
        [
            (
                f"funnel:{stage}",
                sf_dir,
                lambda fn=fn, cols=cols: materialize(
                    fn(spark, sf_dir).select(*cols)
                ),
            )
            for stage, fn, cols in (
                ("gopher", quality_gopher_flags, ("doc_id", "keep")),
                ("repetition", quality_repetition_flags, ("doc_id", "keep")),
                ("qcls", quality_classifier_score, ("doc_id", "keep")),
                ("substr", dedup_exact_substring, ("doc_id", "flagged")),
                ("decontam", decontam_eval_overlap, ("doc_id", "contaminated")),
            )
        ],
    )
    j = (
        docs.join(gopher, "doc_id", "left")
        .join(rep.withColumnRenamed("keep", "rep_keep"), "doc_id", "left")
        .join(cls.withColumnRenamed("keep", "cls_keep"), "doc_id", "left")
        .join(sub, "doc_id", "left")
        .join(dec, "doc_id", "left")
        .select(
            F.coalesce("keep", F.lit(False)).alias("keep"),
            F.coalesce("rep_keep", F.lit(False)).alias("rep_keep"),
            F.coalesce("cls_keep", F.lit(False)).alias("cls_keep"),
            F.coalesce("flagged", F.lit(False)).alias("flagged"),
            (F.col("doc_id") % _EVAL_MOD == 0).alias("is_eval"),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )
    s1 = F.col("keep")
    s2 = s1 & F.col("rep_keep")
    s3 = s2 & F.col("cls_keep")
    s4 = s3 & ~F.col("flagged")
    s5 = s4 & ~F.col("is_eval")
    s6 = s5 & ~F.col("contaminated")
    one = j.agg(
        F.count("*").alias("n0"),
        F.count(F.when(s1, 1)).alias("n1"),
        F.count(F.when(s2, 1)).alias("n2"),
        F.count(F.when(s3, 1)).alias("n3"),
        F.count(F.when(s4, 1)).alias("n4"),
        F.count(F.when(s5, 1)).alias("n5"),
        F.count(F.when(s6, 1)).alias("n6"),
    )
    return one.select(
        F.expr(
            "stack(7,"
            " 0, 'total', n0,"
            " 1, 'gopher_quality', n1,"
            " 2, 'low_repetition', n2,"
            " 3, 'classifier_quality', n3,"
            " 4, 'exact_substring_dedup', n4,"
            " 5, 'holdout_removed', n5,"
            " 6, 'decontaminated', n6) as (stage_id, stage, n_docs)"
        )
    ).select(F.col("stage_id").cast("bigint"), "stage", "n_docs")


_NOVELTY_BUCKET = 100  # documents per ingest slice


def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diminishing-returns curve for corpus growth: documents are
    sliced into ingest order buckets (doc_id div 100) and each bucket
    reports how many of its distinct 8-token grams were NEVER SEEN in
    any earlier bucket — the novelty-decay measurement behind "is more
    of this source still adding information", i.e. the data-curation
    curve Villalobos-style scaling audits read.

    No sequential state: a gram's first-seen bucket is simply
    ``min(bucket)`` over its occurrences, so the whole curve is two
    hash aggregations and one 8-byte-key equi-join — order-free and
    exactly reproducible.

    Scale: shares ``doc_token_grams`` (hashed grams, map-side
    distinct); the first-seen frame is |distinct grams| keyed by the
    8-byte hash; the join is the decontam equi-join shape.  Output is
    |buckets| rows.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    bg = (
        doc_token_grams(docs)
        .select(
            F.expr(f"doc_id div {_NOVELTY_BUCKET}").alias("bucket"), "g"
        )
        .distinct()
    )
    firsts = bg.groupBy("g").agg(F.min("bucket").alias("fb"))
    return (
        bg.join(firsts, "g")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_gram_types"),
            F.count(F.when(F.col("fb") == F.col("bucket"), 1)).alias(
                "n_novel_types"
            ),
        )
        .select(
            "bucket",
            "n_gram_types",
            "n_novel_types",
            F.expr("(n_novel_types * 1000000) div n_gram_types").alias(
                "novelty_ppm"
            ),
        )
    )


def docs_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source LANGUAGE DIVERSITY via the exact-integer Simpson
    index — the composition-concentration gauge a mixture pipeline
    reads next to ``mix_domain_weights``: Simpson's λ (probability two
    docs drawn WITHOUT replacement share a language — the unbiased
    finite-sample form λ = Σ n_l(n_l−1) / (N(N−1))), its Gini–Simpson
    complement 1−λ (the "diversity" orientation), and the
    inverse-Simpson EFFECTIVE language count N(N−1)/Σn_l(n_l−1) (Hill
    number of order 2 — "this source behaves like q.x equally-likely
    languages", the number that exposes a nominally-10-language source
    dominated by one).  Shannon entropy needs ln (the no-libm rule);
    Simpson is the standard diversity metric that doesn't — every
    ratio here is a truncating integer div both engines replay.

    Overflow class (NOTES canon): Σn_l(n_l−1) and N(N−1) are
    PRODUCTS of counts (~N²), so the ×10⁶/×1000 numerators run in
    DECIMAL(38,0)/HUGEINT interiors.  λ and its complement are
    division-bounded ratios (≤ 10⁶) — plain bigint outputs.  The
    effective count is NOT bounded: a near-all-singletons source has
    coin ≪ N, so N(N−1)·1000/coin grows ~N²·500 (a 1.4·10⁸-doc source
    with one repeated language already exceeds int64) — it narrows
    via try_cast/TRY_CAST, NULL past the bound, per the
    narrowing-cast canon (the ann_bucket_balance_audit discipline).
    The NULL-past-bound guarantee itself has a ceiling (ADVICE r10):
    the subtract-mod division's `(num - num % coin) / coin` result is
    decimal(38,6), so once the quotient exceeds ~10³² Spark's
    ANSI-mode decimal divide RAISES where DuckDB's TRY_CAST yields
    NULL — ~3 orders of magnitude past the 100 TB regime (a 10¹⁶-doc
    single-repeat source), documented here so the contract isn't read
    as unconditional.  The same ceiling applies to the
    ``text_collocations`` lift, which shares this division shape.
    Degenerate contracts: N < 2 has no pair to draw — λ NULL; Σ = 0
    (all singletons) has an infinite Hill number — NULL, with
    gini_simpson_ppm = 10⁶ still reporting perfect diversity.

    Scale: one |source × lang|-cell map-side-combining count, then a
    |sources|-row reduction — the corpus is scanned once; output is
    |sources| rows.
    """
    cells = (
        load_table(spark, "documents", sf_dir)
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n"))
    )
    per = cells.groupBy("source").agg(
        F.count("*").alias("n_langs"),
        F.sum("n").alias("n_docs"),
        # coincidence numerator Σ n(n−1): product of counts → decimal
        F.sum(F.expr("cast(n as decimal(38,0)) * (n - 1)")).alias("coin"),
    ).withColumn(
        # Hill-2 numerator N(N−1)·1000, kept wide for the division below
        "num", F.expr("cast(n_docs as decimal(38,0)) * (n_docs - 1) * 1000")
    )
    return per.select(
        "source",
        "n_docs",
        "n_langs",
        F.expr(
            "case when n_docs < 2 then null else"
            " cast(coin * 1000000 div (cast(n_docs as decimal(38,0))"
            " * (n_docs - 1)) as bigint) end"
        ).alias("simpson_ppm"),
        F.expr(
            "case when n_docs < 2 then null else"
            " 1000000 - cast(coin * 1000000 div"
            " (cast(n_docs as decimal(38,0)) * (n_docs - 1)) as bigint)"
            " end"
        ).alias("gini_simpson_ppm"),
        # NOT `div`: Spark's IntegralDivide coerces decimal to LONG and
        # silently WRAPS past int64 (measured, even under ANSI), so a
        # try_cast around it never sees the wide value.  The
        # subtract-mod decimal division keeps the exact quotient wide
        # (integer-valued, so the scale round is exact), and try_cast
        # delivers the NULL-past-bound contract; truncation direction
        # matches DuckDB's HUGEINT `//` (both toward zero — operands
        # non-negative here).
        F.expr(
            "case when coin = 0 then null else"
            " try_cast((num - num % coin) / coin as bigint) end"
        ).alias("eff_langs_x1000"),
    )


_PACK_LEN = 256  #: tokens per packed training sequence


def train_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: concatenate the
    corpus token stream in deterministic ``doc_id`` order and cut it
    into fixed-length training sequences of ``_PACK_LEN`` tokens; per
    chunk, report how many documents contribute, how many are
    carryover (started in an earlier chunk — the tokens a causal mask
    or attention-separator has to handle), the token fill (= the pack
    length except for the final chunk: concat-and-chunk has zero
    padding waste by construction), and the contributing doc range.

    Tokens are the shared ASCII-whitespace discipline (``_TOKS``);
    empty docs contribute nothing and are excluded.  A document
    starting at global token offset ``s`` with ``n`` tokens spans
    chunks ``s div L .. (s+n-1) div L`` — integer arithmetic end to
    end, so the oracle hashes exactly.

    Scale: the global token offset uses the range-partitioned prefix
    pattern (``functions/ordering.range_prefix`` — no single-partition
    window); the chunk explode emits ``ceil(n/L)+1`` rows per doc
    (Σ ≈ n_chunks + n_docs, linear in corpus size); the final
    aggregation shuffles on the bounded chunk-id key.
    """
    docs = (
        load_table(spark, "documents", sf_dir)
        .select(
            "doc_id",
            F.size(F.expr(_TOKS)).cast("bigint").alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
    )
    part, off, _rows, _tot = range_prefix(docs, ["doc_id"], 32, sum_col="n_tok")
    w = (
        Window.partitionBy("_pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = part.join(F.broadcast(off), "_pid").select(
        "doc_id",
        "n_tok",
        (
            F.coalesce(F.sum("n_tok").over(w), F.lit(0))
            + F.col("_sum_off").cast("bigint")
        ).alias("tok_start"),
    )
    L = _PACK_LEN
    spans = placed.select(
        "doc_id",
        "tok_start",
        (F.col("tok_start") + F.col("n_tok")).alias("tok_end"),
        F.explode(
            F.sequence(
                F.expr(f"tok_start div {L}"),
                F.expr(f"(tok_start + n_tok - 1) div {L}"),
            )
        ).alias("chunk_id"),
    )
    return (
        spans.groupBy("chunk_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                (F.col("tok_start") < F.col("chunk_id") * L).cast("int")
            ).cast("bigint").alias("n_carryover"),
            F.sum(
                F.least(F.col("tok_end"), (F.col("chunk_id") + 1) * L)
                - F.greatest(F.col("tok_start"), F.col("chunk_id") * L)
            ).cast("bigint").alias("fill_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .withColumn("chunk_id", F.col("chunk_id").cast("bigint"))
        .orderBy("chunk_id")
    )


QUERIES = {
    "quality_gopher_flags": quality_gopher_flags,
    "quality_repetition_flags": quality_repetition_flags,
    "lm_bigram_score": lm_bigram_score,
    "lm_interpolated_score": lm_interpolated_score,
    "lm_kneser_ney_score": lm_kneser_ney_score,
    "text_collocations": text_collocations,
    "lm_perplexity_buckets": lm_perplexity_buckets,
    "dedup_exact_substring": dedup_exact_substring,
    "train_shuffle_shards": train_shuffle_shards,
    "train_curriculum_order": train_curriculum_order,
    "bpe_pair_counts": bpe_pair_counts,
    "tokenize_bpe_greedy": tokenize_bpe_greedy,
    "bpe_merges_iterative": bpe_merges_iterative,
    "tokenize_bpe_iterative": tokenize_bpe_iterative,
    "inverted_index_topdf": inverted_index_topdf,
    "decontam_eval_overlap": decontam_eval_overlap,
    "decontam_leakage_by_eval": decontam_leakage_by_eval,
    "decontam_minhash_fuzzy": decontam_minhash_fuzzy,
    "quality_classifier_score": quality_classifier_score,
    "token_budget_plan": token_budget_plan,
    "budget_epoch_expansion": budget_epoch_expansion,
    "quality_filter_agreement": quality_filter_agreement,
    "mix_domain_weights": mix_domain_weights,
    "mix_resample_apply": mix_resample_apply,
    "dsir_importance_weights": dsir_importance_weights,
    "corpus_funnel_report": corpus_funnel_report,
    "corpus_novelty_curve": corpus_novelty_curve,
    "docs_simpson_diversity": docs_simpson_diversity,
    "train_sequence_packing": train_sequence_packing,
}

_DUCK_FL4 = "floor(({e}) * 10000 + 0.5) / 10000.0"

ORACLES = {
    "docs_simpson_diversity": """
        WITH cells AS (
            SELECT source, lang, count(*)::BIGINT AS n
            FROM documents GROUP BY 1, 2
        ),
        per AS (
            SELECT source,
                   count(*)::BIGINT AS n_langs,
                   sum(n)::BIGINT AS n_docs,
                   sum(n::HUGEINT * (n - 1)) AS coin
            FROM cells GROUP BY source
        )
        SELECT source, n_docs, n_langs,
               CASE WHEN n_docs < 2 THEN NULL ELSE
                    (coin * 1000000
                     // (n_docs::HUGEINT * (n_docs - 1)))::BIGINT
               END AS simpson_ppm,
               CASE WHEN n_docs < 2 THEN NULL ELSE
                    1000000 - (coin * 1000000
                     // (n_docs::HUGEINT * (n_docs - 1)))::BIGINT
               END AS gini_simpson_ppm,
               CASE WHEN coin = 0 THEN NULL ELSE
                    TRY_CAST(n_docs::HUGEINT * (n_docs - 1) * 1000
                     // coin AS BIGINT)
               END AS eff_langs_x1000
        FROM per
    """,
    "quality_gopher_flags": f"""
        WITH words AS (
            SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents
        ),
        wc AS (
            SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY doc_id, w
        ),
        per AS (
            SELECT doc_id,
                   sum(cnt)::BIGINT AS n_words,
                   count(*)::BIGINT AS n_distinct,
                   max(cnt)::BIGINT AS top_cnt,
                   sum(cnt * length(w))::BIGINT AS char_sum,
                   count(*) FILTER (WHERE w IN ({_STOP_SQL}))::BIGINT
                       AS n_stopwords
            FROM wc GROUP BY doc_id
        ),
        m AS (
            SELECT doc_id, n_words,
                   {_DUCK_FL4.format(e="char_sum::DOUBLE / n_words")}
                       AS mean_word_len,
                   {_DUCK_FL4.format(e="n_distinct::DOUBLE / n_words")}
                       AS distinct_ratio,
                   {_DUCK_FL4.format(e="top_cnt::DOUBLE / n_words")}
                       AS top_word_fraction,
                   n_stopwords
            FROM per
        )
        SELECT *,
               (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
                AND mean_word_len BETWEEN {_GOPHER_MIN_WLEN} AND {_GOPHER_MAX_WLEN}
                AND top_word_fraction <= {_GOPHER_MAX_TOPFRAC}
                AND n_stopwords >= {_GOPHER_MIN_STOP}) AS keep
        FROM m
    """,
    "quality_repetition_flags": f"""
        WITH t AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        nz AS (SELECT * FROM t WHERE len(toks) >= 1),
        g AS (
            {" UNION ALL ".join(
                f'''SELECT doc_id, {n} AS n,
                   array_to_string(list_slice(toks, i, i + {n - 1}), ' ') AS g
            FROM nz, LATERAL (
                SELECT unnest(range(1, len(toks) - {n} + 2)) AS i
            ) li
            WHERE len(toks) >= {n}'''
                for n in (*_REP_TOP, *_REP_DUP)
            )}
        ),
        cnt AS (
            SELECT doc_id, n, count(*)::BIGINT AS cnt,
                   length(g)::BIGINT AS glen
            FROM g GROUP BY doc_id, n, g
        ),
        per AS (
            SELECT doc_id, n,
                   max(cnt * glen)::BIGINT AS top_chars,
                   sum(CASE WHEN cnt >= 2 THEN cnt * glen
                            ELSE 0 END)::BIGINT AS dup_chars
            FROM cnt GROUP BY doc_id, n
        ),
        piv AS (
            SELECT doc_id,
                   {", ".join(
                       f"max(top_chars) FILTER (WHERE n = {n}) AS top{n}"
                       for n in _REP_TOP
                   )},
                   {", ".join(
                       f"max(dup_chars) FILTER (WHERE n = {n}) AS dup{n}"
                       for n in _REP_DUP
                   )}
            FROM per GROUP BY doc_id
        ),
        chars AS (
            SELECT doc_id,
                   length(array_to_string(toks, ' '))::BIGINT AS doc_chars
            FROM nz
        ),
        m AS (
            SELECT c.doc_id, c.doc_chars,
                   {", ".join(
                       _DUCK_FL4.format(
                           e=f"coalesce(top{n}, 0)::DOUBLE / c.doc_chars"
                       ) + f" AS top_{n}gram_frac"
                       for n in _REP_TOP
                   )},
                   {", ".join(
                       _DUCK_FL4.format(
                           e=f"coalesce(dup{n}, 0)::DOUBLE / c.doc_chars"
                       ) + f" AS dup_{n}gram_frac"
                       for n in _REP_DUP
                   )}
            FROM chars c LEFT JOIN piv USING (doc_id)
        )
        SELECT *,
               ({" AND ".join(
                   [f"top_{n}gram_frac <= {thr}" for n, thr in _REP_TOP.items()]
                   + [f"dup_{n}gram_frac <= {thr}" for n, thr in _REP_DUP.items()]
               )}) AS keep
        FROM m
    """,
    "lm_bigram_score": f"""
        WITH t AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        nz AS (SELECT * FROM t WHERE len(toks) >= 2),
        bi AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)), i ->
                       {_DUCK_BIGHASH.format(
                           e="toks[i] || chr(31) || toks[i + 1]")})) AS gb,
                   unnest(list_transform(range(1, len(toks)), i ->
                       {_DUCK_BIGHASH.format(e="toks[i]")})) AS gu
            FROM nz
        ),
        doc_tf AS (
            SELECT doc_id, gb, gu, count(*)::BIGINT AS tf
            FROM bi GROUP BY doc_id, gb, gu
        ),
        cbi AS (SELECT gb, sum(tf)::BIGINT AS c_bi FROM doc_tf GROUP BY gb),
        cun AS (SELECT gu, sum(tf)::BIGINT AS c_uni FROM doc_tf GROUP BY gu),
        scored AS (
            SELECT doc_id, tf, (c_bi * {_LM_SCALE}) // c_uni AS p_scaled
            FROM doc_tf JOIN cbi USING (gb) JOIN cun USING (gu)
        )
        SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
               (sum(tf * p_scaled) // sum(tf))::BIGINT AS lm_score_scaled
        FROM scored GROUP BY doc_id
    """,
    "lm_interpolated_score": f"""
        WITH t AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        tok AS (
            SELECT {_DUCK_BIGHASH.format(e="x")} AS gv
            FROM (SELECT unnest(toks) AS x FROM t)
        ),
        ctok AS (SELECT gv, count(*)::BIGINT AS c_tok FROM tok GROUP BY gv),
        tot AS (SELECT sum(c_tok)::BIGINT AS n_total FROM ctok),
        nz AS (SELECT * FROM t WHERE len(toks) >= 2),
        bi AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)), i ->
                       {_DUCK_BIGHASH.format(
                           e="toks[i] || chr(31) || toks[i + 1]")})) AS gb,
                   unnest(list_transform(range(1, len(toks)), i ->
                       {_DUCK_BIGHASH.format(e="toks[i]")})) AS gu,
                   unnest(list_transform(range(1, len(toks)), i ->
                       {_DUCK_BIGHASH.format(e="toks[i + 1]")})) AS gv
            FROM nz
        ),
        doc_tf AS (
            SELECT doc_id, gb, gu, gv, count(*)::BIGINT AS tf
            FROM bi GROUP BY doc_id, gb, gu, gv
        ),
        cbi AS (SELECT gb, sum(tf)::BIGINT AS c_bi FROM doc_tf GROUP BY gb),
        cun AS (SELECT gu, sum(tf)::BIGINT AS c_uni FROM doc_tf GROUP BY gu),
        scored AS (
            SELECT doc_id, tf,
                   ({_LM_LAMBDA_BI} * ({_RATIO_DUCK.format(n="c_bi", d="c_uni")})
                    + {_LM_LAMBDA_UNI} * ({_RATIO_DUCK.format(n="c_tok", d="n_total")}))
                   // 10 AS p_int
            FROM doc_tf
            JOIN cbi USING (gb) JOIN cun USING (gu) JOIN ctok USING (gv), tot
        )
        SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
               (sum(tf * p_int) // sum(tf))::BIGINT AS lm_interp_scaled
        FROM scored GROUP BY doc_id
    """,
    "text_collocations": f"""
        WITH t AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        nz AS (SELECT * FROM t WHERE len(toks) >= 2),
        bi AS (
            SELECT
                unnest(list_transform(range(1, len(toks)), i ->
                    {_DUCK_BIGHASH.format(
                        e="toks[i] || chr(31) || toks[i + 1]")})) AS gb,
                unnest(list_transform(range(1, len(toks)), i ->
                    {_DUCK_BIGHASH.format(e="toks[i]")})) AS gu,
                unnest(list_transform(range(1, len(toks)), i ->
                    {_DUCK_BIGHASH.format(e="toks[i + 1]")})) AS gv
            FROM nz
        ),
        cnt AS (
            SELECT gb, gu, gv, count(*)::BIGINT AS c12
            FROM bi GROUP BY gb, gu, gv
        ),
        lft AS (SELECT gu, sum(c12)::BIGINT AS c1 FROM cnt GROUP BY gu),
        rgt AS (SELECT gv, sum(c12)::BIGINT AS c2 FROM cnt GROUP BY gv),
        tot AS (SELECT sum(c12)::BIGINT AS n_pos FROM cnt)
        SELECT gb AS pair_hash, c12, c1, c2,
               TRY_CAST(c12::HUGEINT * n_pos * 1000000
                // (c1::HUGEINT * c2) AS BIGINT) AS lift_ppm
        FROM cnt
        JOIN lft USING (gu) JOIN rgt USING (gv), tot
        WHERE c12 >= {_COLLOC_MIN_N}
        ORDER BY lift_ppm DESC, pair_hash ASC
        LIMIT {_COLLOC_TOPK}
    """,
    "lm_kneser_ney_score": f"""
        WITH t AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        nz AS (SELECT * FROM t WHERE len(toks) >= 2),
        bi AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)), i ->
                       {_DUCK_BIGHASH.format(
                           e="toks[i] || chr(31) || toks[i + 1]")})) AS gb,
                   unnest(list_transform(range(1, len(toks)), i ->
                       {_DUCK_BIGHASH.format(e="toks[i]")})) AS gu,
                   unnest(list_transform(range(1, len(toks)), i ->
                       {_DUCK_BIGHASH.format(e="toks[i + 1]")})) AS gv
            FROM nz
        ),
        doc_tf AS (
            SELECT doc_id, gb, gu, gv, count(*)::BIGINT AS tf
            FROM bi GROUP BY doc_id, gb, gu, gv
        ),
        types AS (
            SELECT gb, gu, gv, sum(tf)::BIGINT AS c_bi
            FROM doc_tf GROUP BY gb, gu, gv
        ),
        pre AS (
            SELECT gu, sum(c_bi)::BIGINT AS c_uni,
                   count(*)::BIGINT AS n1f
            FROM types GROUP BY gu
        ),
        post AS (
            SELECT gv, count(*)::BIGINT AS n1b FROM types GROUP BY gv
        ),
        ntypes AS (SELECT count(*)::BIGINT AS n_types FROM types),
        scored AS (
            SELECT doc_id, tf,
                   ({_RATIO_DUCK.format(
                        n=f"{_KN_D_DEN} * c_bi - {_KN_D_NUM}",
                        d=f"{_KN_D_DEN} * c_uni")})
                   + ({_KN_D_NUM} * n1f
                      * ({_RATIO_DUCK.format(n="n1b", d="n_types")}))
                     // ({_KN_D_DEN} * c_uni) AS p_int
            FROM doc_tf
            JOIN (SELECT gb, c_bi FROM types) USING (gb)
            JOIN pre USING (gu)
            JOIN post USING (gv), ntypes
        )
        SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
               (sum(tf * p_int) // sum(tf))::BIGINT AS lm_kn_scaled
        FROM scored GROUP BY doc_id
    """,
    "dedup_exact_substring": f"""
        WITH t AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        nz AS (SELECT * FROM t WHERE len(toks) >= {_SUBSTR_N}),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks) - {_SUBSTR_N} + 2),
                       i -> {{'pos': i, 'gram': array_to_string(
                           list_slice(toks, i, i + {_SUBSTR_N} - 1), ' ')}}
                   )) AS u
            FROM nz
        ),
        gh AS (
            SELECT doc_id, u.pos AS pos,
                   {_DUCK_BIGHASH.format(e="u.gram")} AS g
            FROM g
        ),
        owner AS (SELECT g, min(doc_id) AS owner FROM gh GROUP BY g),
        j AS (
            SELECT doc_id, pos, owner FROM gh JOIN owner USING (g)
        ),
        base AS (
            SELECT doc_id, count(*)::BIGINT AS n_grams,
                   count(*) FILTER (WHERE owner < doc_id)::BIGINT AS n_shared
            FROM j GROUP BY doc_id
        ),
        sh AS (
            SELECT doc_id, pos,
                   lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
            FROM j WHERE owner < doc_id
        ),
        cov AS (
            SELECT doc_id,
                   sum(least({_SUBSTR_N},
                             coalesce(nxt - pos, {_SUBSTR_N})))::BIGINT
                       AS n_dup_tokens
            FROM sh GROUP BY doc_id
        )
        SELECT doc_id, n_grams, n_shared,
               coalesce(n_dup_tokens, 0)::BIGINT AS n_dup_tokens,
               n_shared > 0 AS flagged
        FROM base LEFT JOIN cov USING (doc_id)
    """,
    "train_shuffle_shards": f"""
        WITH h AS (
            SELECT doc_id,
                   ('0x' || substr(md5(doc_id::VARCHAR || ':shuffle'),
                                   1, 15))::BIGINT AS hv
            FROM documents
        ),
        s AS (SELECT doc_id, hv, hv % {_N_SHARDS} AS shard FROM h)
        SELECT shard, row_number() OVER (PARTITION BY shard
                                         ORDER BY hv ASC, doc_id ASC) AS pos,
               doc_id, hv
        FROM s
    """,
    "train_curriculum_order": f"""
        WITH cuts AS (
            SELECT {", ".join(
                f"quantile_cont(n_chars, {i}.0/{_CURR_BUCKETS}) AS c{i}"
                for i in range(1, _CURR_BUCKETS)
            )}
            FROM documents
        ),
        b AS (
            SELECT doc_id, n_chars,
                   1 + {" + ".join(
                       f"(n_chars > c{i})::INT"
                       for i in range(1, _CURR_BUCKETS)
                   )} AS bucket
            FROM documents, cuts
        ),
        r AS (
            SELECT doc_id, n_chars, bucket,
                   row_number() OVER (ORDER BY bucket, n_chars, doc_id)
                       AS pos
            FROM b
        ),
        m AS (SELECT bucket, min(pos) AS mn FROM r GROUP BY 1)
        SELECT r.doc_id, r.n_chars, r.bucket::INT AS bucket,
               (r.pos - m.mn + 1)::BIGINT AS within_rank,
               ((r.pos - m.mn) * {_CURR_STRIDE} + r.bucket)::BIGINT
                   AS curriculum_key
        FROM r JOIN m USING (bucket)
    """,
    "bpe_pair_counts": f"""
        WITH toks AS (
            SELECT unnest({_DUCK_TOKS}) AS w FROM documents
        ),
        pairs AS (
            SELECT unnest(list_transform(range(1, length(w)),
                                         i -> substr(w, i, 2))) AS pair
            FROM toks WHERE length(w) >= 2
        )
        SELECT pair, count(*) AS n FROM pairs
        GROUP BY pair ORDER BY n DESC, pair ASC LIMIT {_BPE_TOPK}
    """,
    "tokenize_bpe_greedy": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents
        ),
        pt AS (
            SELECT unnest(list_transform(range(1, length(w)),
                                         i -> substr(w, i, 2))) AS pair
            FROM toks WHERE length(w) >= 2
        ),
        top AS (
            SELECT pair FROM (
                SELECT pair, count(*) AS n FROM pt GROUP BY pair
                ORDER BY n DESC, pair ASC LIMIT {_BPE_TOPK}
            )
        ),
        voc AS (SELECT list(pair) AS vocab FROM top),
        enc AS (
            SELECT doc_id, w,
                   list_reduce(
                       list_prepend(0::BIGINT, range(1, length(w) + 1)),
                       (acc, i) -> CASE WHEN acc % 2 = 1 THEN acc - 1
                           ELSE acc + 2 + (CASE WHEN list_contains(
                                    vocab, substr(w, i, 2))
                                THEN 1 ELSE 0 END) END
                   ) // 2 AS cnt
            FROM toks, voc
        ),
        per AS (
            SELECT doc_id, count(*)::BIGINT AS n_words,
                   sum(length(w))::BIGINT AS n_chars,
                   sum(cnt)::BIGINT AS n_bpe_tokens
            FROM enc GROUP BY doc_id
        )
        SELECT doc_id, n_words, n_chars, n_bpe_tokens,
               {_DUCK_FL4.format(e="n_chars::DOUBLE / n_bpe_tokens")}
                   AS compression
        FROM per
    """,
    "inverted_index_topdf": f"""
        WITH postings AS (
            SELECT DISTINCT doc_id, term FROM (
                SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
            )
        )
        SELECT term, count(*)::BIGINT AS df,
               sum(doc_id)::BIGINT AS postings_checksum,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM postings GROUP BY term
        ORDER BY df DESC, term ASC LIMIT {_INDEX_TOPK}
    """,
    "decontam_eval_overlap": f"""
        WITH t AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        nz AS (SELECT * FROM t WHERE len(toks) >= {_SUBSTR_N}),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks) - {_SUBSTR_N} + 2),
                       i -> array_to_string(
                           list_slice(toks, i, i + {_SUBSTR_N} - 1), ' ')
                   )) AS gram
            FROM nz
        ),
        gh AS (SELECT doc_id, {_DUCK_BIGHASH.format(e="gram")} AS g FROM g),
        train AS (
            SELECT DISTINCT doc_id, g FROM gh WHERE doc_id % {_EVAL_MOD} <> 0
        ),
        ev AS (
            SELECT g, count(DISTINCT doc_id)::BIGINT AS n_eval_docs
            FROM gh WHERE doc_id % {_EVAL_MOD} = 0 GROUP BY g
        )
        SELECT doc_id,
               count(*)::BIGINT AS n_distinct_grams,
               count(n_eval_docs)::BIGINT AS n_contaminated_grams,
               coalesce(sum(n_eval_docs), 0)::BIGINT AS eval_doc_hits,
               count(n_eval_docs) > 0 AS contaminated
        FROM train LEFT JOIN ev USING (g)
        GROUP BY doc_id
    """,
    "decontam_leakage_by_eval": f"""
        WITH t AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        nz AS (SELECT * FROM t WHERE len(toks) >= {_SUBSTR_N}),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks) - {_SUBSTR_N} + 2),
                       i -> array_to_string(
                           list_slice(toks, i, i + {_SUBSTR_N} - 1), ' ')
                   )) AS gram
            FROM nz
        ),
        gh AS (SELECT doc_id, {_DUCK_BIGHASH.format(e="gram")} AS g FROM g),
        ev AS (
            SELECT DISTINCT doc_id, g FROM gh WHERE doc_id % {_EVAL_MOD} = 0
        ),
        hits AS (
            SELECT g, count(DISTINCT doc_id)::BIGINT AS n_train_docs
            FROM gh
            WHERE doc_id % {_EVAL_MOD} <> 0
              AND g IN (SELECT g FROM ev)
            GROUP BY g
        ),
        per AS (
            SELECT doc_id,
                   count(*)::BIGINT AS n_distinct_grams,
                   count(n_train_docs)::BIGINT AS n_leaked_grams,
                   coalesce(sum(n_train_docs), 0)::BIGINT AS train_doc_hits
            FROM ev LEFT JOIN hits USING (g)
            GROUP BY doc_id
        )
        SELECT doc_id, n_distinct_grams, n_leaked_grams, train_doc_hits,
               ({_RATIO_DUCK.format(n="n_leaked_grams", d="n_distinct_grams")})
                   AS leak_frac_scaled,
               n_leaked_grams > 0 AS leaked
        FROM per
    """,
    "dsir_importance_weights": f"""
        WITH t AS (
            SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents
        ),
        nz AS (SELECT * FROM t WHERE len(toks) >= 1),
        f AS (
            SELECT doc_id, lang,
                   unnest(toks || list_transform(range(1, len(toks)),
                       i -> toks[i] || chr(31) || toks[i + 1])) AS f
            FROM nz
        ),
        fb AS (
            SELECT doc_id, lang,
                   ({_DUCK_BIGHASH.format(e="f")}) % {_DSIR_BUCKETS} AS b
            FROM f
        ),
        doc_tf AS (
            SELECT doc_id, lang, b, count(*)::BIGINT AS tf
            FROM fb GROUP BY doc_id, lang, b
        ),
        craw AS (SELECT b, sum(tf)::BIGINT AS c_raw FROM doc_tf GROUP BY b),
        ctgt AS (
            SELECT b, sum(tf)::BIGINT AS c_tgt FROM doc_tf
            WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
        ),
        scored AS (
            -- two-step ×1000 form, identical to the engine: exact
            -- floor(c_tgt·1e6 / c_raw) without the ×1e6 intermediate
            SELECT doc_id, lang, tf,
                   ((coalesce(c_tgt, 0) * 1000) // c_raw) * 1000
                   + (((coalesce(c_tgt, 0) * 1000) % c_raw) * 1000)
                     // c_raw AS r_scaled
            FROM doc_tf JOIN craw USING (b) LEFT JOIN ctgt USING (b)
        )
        SELECT doc_id, lang, sum(tf)::BIGINT AS n_feats,
               (sum(tf * r_scaled) // sum(tf))::BIGINT AS imp_scaled
        FROM scored GROUP BY doc_id, lang
    """,
    "mix_domain_weights": f"""
        WITH toks AS (
            SELECT source, lang, len({_DUCK_TOKS})::BIGINT AS n_toks
            FROM documents
        ),
        dom AS (
            SELECT source, lang, count(*)::BIGINT AS n_docs,
                   sum(n_toks)::BIGINT AS n_tokens
            FROM toks GROUP BY source, lang
        ),
        tot AS (SELECT sum(n_tokens)::BIGINT AS total_tokens FROM dom)
        SELECT source, lang, n_docs, n_tokens,
               ((n_tokens * {_MIX_SCALE}) // total_tokens)::BIGINT
                   AS share_scaled,
               {_DUCK_FL4.format(
                   e="sqrt(n_tokens::DOUBLE / total_tokens)")} AS temp_weight
        FROM dom, tot
    """,
}

#: DuckDB mirror of the ``_BPE_APPLY`` fold: list_reduce has no initial
#: -value form, so the accumulator is a STRING ('0'/'1' consumed-flag
#: prefix + chr(31)-framed emitted symbols) prepended as the first list
#: element; {ML}/{MR} are the (coalesced) merge sides.  Out-of-bounds
#: s[i+1] yields NULL → CASE falls through, same guard as the engine's
#: short-circuit.
_DUCK_BPE_APPLY = """list_filter(string_split(substr(
            list_reduce(
              list_prepend('0', list_transform(range(1, len(s) + 1),
                                               i -> i::VARCHAR)),
              (acc, x) -> CASE
                WHEN substr(acc, 1, 1) = '1' THEN '0' || substr(acc, 2)
                WHEN x::INT < len(s) AND s[x::INT] = {ML}
                     AND s[x::INT + 1] = {MR}
                  THEN '1' || substr(acc, 2) || chr(31) || {ML} || {MR}
                ELSE '0' || substr(acc, 2) || chr(31) || s[x::INT]
              END
            ), 2), chr(31)), x -> x <> '')"""


def _duck_bpe_iter_ctes(rounds: int = _BPE_ITER_ROUNDS) -> str:
    """CTE chain replaying the k-round merge mining: syms{r} tables plus
    ``merges_out(merge_round, lhs, rhs, n)`` — one unrolled round per
    CTE group, the same (n DESC, pair ASC) argmax and the same greedy
    apply fold as the engine.

    Every chain CTE is MATERIALIZED: each syms{r}/t{r} is referenced
    twice, and DuckDB's default CTE inlining would otherwise DOUBLE the
    replay per level — 2^rounds re-scans of the documents view (k=16
    exhausted the process fd limit before this; with materialization
    the whole 20-round chain runs in ~0.2 s at sf0.01)."""
    ml = "coalesce(ml, chr(30))"
    mr = "coalesce(mr, chr(30))"
    parts = [
        f"""wt AS MATERIALIZED (
            SELECT w, count(*)::BIGINT AS tf FROM (
                SELECT unnest({_DUCK_TOKS}) AS w FROM documents
            ) GROUP BY w
        ),
        syms0 AS MATERIALIZED (
            SELECT w, tf,
                   list_filter(string_split(w, ''), x -> x <> '') AS s
            FROM wt
        )"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        apply = _DUCK_BPE_APPLY.format(ML=ml, MR=mr)
        parts.append(
            f"""p{r} AS (
            SELECT s[i] || chr(31) || s[i + 1] AS pk, sum(tf)::BIGINT AS n
            FROM syms{p}, LATERAL (
                SELECT unnest(range(1, len(s))) AS i
            ) li
            GROUP BY pk
        ),
        t{r} AS MATERIALIZED (
            SELECT string_split(pk, chr(31))[1] AS ml,
                   string_split(pk, chr(31))[2] AS mr, n
            FROM p{r} ORDER BY n DESC, pk ASC LIMIT 1
        ),
        syms{r} AS MATERIALIZED (
            SELECT w, tf, {apply} AS s
            FROM syms{p} LEFT JOIN t{r} ON true
        )"""
        )
    union = " UNION ALL ".join(
        f"SELECT {r}::BIGINT AS merge_round, ml AS lhs, mr AS rhs, n FROM t{r}"
        for r in range(1, rounds + 1)
    )
    parts.append(f"merges_out AS ({union})")
    return ",\n        ".join(parts)


# Classifier apply: identical md5-derived weight table via
# generate_series; tf sums and the scaled division are exact integers.
ORACLES["quality_classifier_score"] = f"""
    WITH words AS (
        SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents
    ),
    feats AS (
        SELECT doc_id, {_DUCK_BIGHASH.format(e="w")} % {_QCLS_BUCKETS} AS bucket
        FROM words
    ),
    weights AS (
        SELECT b AS bucket,
               ({_DUCK_BIGHASH.format(e="'qw:' || b::VARCHAR")}
                % {2 * _QCLS_WRANGE + 1}) - {_QCLS_WRANGE} AS wgt
        FROM (SELECT unnest(generate_series(0, {_QCLS_BUCKETS - 1})) AS b)
    ),
    per AS (
        SELECT f.doc_id, count(*)::BIGINT AS n_tokens,
               sum(w.wgt)::BIGINT AS raw
        FROM feats f JOIN weights w ON f.bucket = w.bucket
        GROUP BY f.doc_id
    )
    SELECT doc_id, n_tokens,
           (raw * 1000) // n_tokens AS score_scaled,
           (raw * 1000) // n_tokens >= 0 AS keep
    FROM per
"""

# Budget planner: integer-scaled τ=2 weights normalized by their exact
# integer sum; all divisions floor on non-negative operands.
ORACLES["token_budget_plan"] = f"""
    WITH dom AS (
        SELECT source, lang, count(*)::BIGINT AS n_docs,
               sum(len({_DUCK_TOKS}))::BIGINT AS n_tokens
        FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT sum(n_tokens)::BIGINT AS total_tokens FROM dom),
    weighted AS (
        SELECT d.*, floor(sqrt(d.n_tokens / t.total_tokens) * 10000
                          + 0.5)::BIGINT AS weight_scaled
        FROM dom d, tot t
    ),
    ws AS (SELECT sum(weight_scaled)::BIGINT AS w_sum FROM weighted)
    SELECT source, lang, n_docs, n_tokens, weight_scaled,
           ({_BUDGET_TOKENS} * weight_scaled) // w_sum AS target_tokens,
           ((({_BUDGET_TOKENS} * weight_scaled) // w_sum) * 1000)
               // n_tokens AS epochs_milli,
           ({_BUDGET_TOKENS} * weight_scaled) // w_sum > n_tokens AS repeats
    FROM weighted, ws
"""

# CCNet bucketing: composes the interpolated-LM oracle with
# continuous-quantile tercile boundaries (quantile_cont = Spark's
# interpolated percentile contract).
ORACLES["lm_perplexity_buckets"] = f"""
    WITH s AS ({ORACLES["lm_interpolated_score"]}),
    b AS (SELECT round(quantile_cont(lm_interp_scaled, 1.0/3), 4) AS b1,
                 round(quantile_cont(lm_interp_scaled, 2.0/3), 4) AS b2
          FROM s)
    SELECT doc_id, lm_interp_scaled,
           CASE WHEN lm_interp_scaled >= b2 THEN 'head'
                WHEN lm_interp_scaled >= b1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM s, b
"""

# Epoch expansion: COMPOSES the plan oracle (one target definition)
# and replays the deterministic remainder-epoch hash acceptance with
# the overflow-safe two-step ×1000 ratio.
ORACLES["budget_epoch_expansion"] = f"""
    WITH p AS ({ORACLES["token_budget_plan"]}),
    tgt AS (
        SELECT source, lang,
               target_tokens // n_tokens AS full_epochs,
               ((((target_tokens % n_tokens) * 1000) // n_tokens) * 1000
                + (((target_tokens % n_tokens) * 1000) % n_tokens)
                  * 1000 // n_tokens) AS rem_ppm
        FROM p
    )
    SELECT d.doc_id, d.source, d.lang,
           (t.full_epochs
            + ((('0x' || substr(md5(d.doc_id::VARCHAR || ':epoch'), 1, 15))
                ::BIGINT % 1000000) < t.rem_ppm)::BIGINT)::BIGINT AS n_copies
    FROM documents d
    JOIN tgt t ON d.source = t.source AND d.lang = t.lang
"""

# Agreement matrix: composes the three gate oracles (one SQL
# definition per filter — the funnel-report pattern).
ORACLES["quality_filter_agreement"] = f"""
    WITH g AS ({ORACLES["quality_gopher_flags"]}),
    r AS ({ORACLES["quality_repetition_flags"]}),
    c AS ({ORACLES["quality_classifier_score"]}),
    base AS (SELECT doc_id FROM documents),
    j AS (
        SELECT coalesce(g.keep, false) AS keep_gopher,
               coalesce(r.keep, false) AS keep_repetition,
               coalesce(c.keep, false) AS keep_classifier
        FROM base b
        LEFT JOIN g ON g.doc_id = b.doc_id
        LEFT JOIN r ON r.doc_id = b.doc_id
        LEFT JOIN c ON c.doc_id = b.doc_id
    ),
    tot AS (SELECT count(*)::BIGINT AS n FROM base)
    SELECT keep_gopher, keep_repetition, keep_classifier,
           count(*)::BIGINT AS n_docs,
           (count(*) * 1000000) // (SELECT n FROM tot) AS frac_scaled
    FROM j GROUP BY 1, 2, 3
"""

# Fuzzy decontamination: replays the MinHash/band/verify chain from
# dedup.py's oracle fragments over the paraphrase-augmented corpus,
# restricted to (train, eval) band collisions.
ORACLES["decontam_minhash_fuzzy"] = f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_FUZZY_PARA_OFFSET} AS doc_id,
               array_to_string(list_slice(t, 2, len(t)), ' ') AS text
        FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
              WHERE doc_id % {_EVAL_MOD} = 0
                AND doc_id < {_FUZZY_INJECT_BELOW})
    ),
    {_DUCK_SHINGLE_CTE},
    hashed AS (SELECT doc_id, shingle, {_BASE40_DUCK} AS h40 FROM sh),
    seeds AS (SELECT unnest(generate_series(0, {_MH_SEEDS - 1})) AS seed),
    sig AS (
        SELECT doc_id, seed, min({_mh_seeded("seed", "h40")}) AS minhash
        FROM hashed, seeds GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, (seed // 2) AS band,
               string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
        FROM sig GROUP BY doc_id, (seed // 2)
    ),
    cand AS (
        SELECT DISTINCT t.doc_id, e.doc_id AS eval_doc
        FROM bands t JOIN bands e
          ON t.band = e.band AND t.band_sig = e.band_sig
        WHERE t.doc_id % {_EVAL_MOD} <> 0 AND e.doc_id % {_EVAL_MOD} = 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_id, c.eval_doc, count(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_id
        JOIN sh sb ON sb.doc_id = c.eval_doc AND sa.shingle = sb.shingle
        GROUP BY c.doc_id, c.eval_doc
    ),
    pairs AS (
        SELECT c.doc_id, c.eval_doc,
               round(coalesce(i.n_inter, 0) /
                     (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)), 4)
                   AS jaccard
        FROM cand c
        LEFT JOIN inter i
          ON i.doc_id = c.doc_id AND i.eval_doc = c.eval_doc
        JOIN sizes za ON za.doc_id = c.doc_id
        JOIN sizes zb ON zb.doc_id = c.eval_doc
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY jaccard DESC, eval_doc ASC) AS rk
        FROM pairs
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_eval_candidates,
           min(CASE WHEN rk = 1 THEN eval_doc END)::BIGINT AS best_eval_doc,
           max(jaccard) AS best_jaccard,
           max(jaccard) >= {_FUZZY_T} AS contaminated_fuzzy
    FROM ranked GROUP BY doc_id
"""

ORACLES["bpe_merges_iterative"] = f"""
    WITH {_duck_bpe_iter_ctes()}
    SELECT merge_round, lhs, rhs, n FROM merges_out
"""

ORACLES["tokenize_bpe_iterative"] = f"""
    WITH {_duck_bpe_iter_ctes()},
    vocab AS (
        SELECT list_distinct(list(lhs || rhs)) AS units FROM merges_out
    ),
    toksd AS (
        SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents
    ),
    wtd AS (
        SELECT doc_id, w, count(*)::BIGINT AS tf
        FROM toksd GROUP BY doc_id, w
    ),
    enc AS (
        SELECT w,
               list_reduce(list_prepend(0::BIGINT, range(1, length(w) + 1)),
                 (acc, i) -> CASE WHEN acc % 1024 > 0 THEN acc - 1
                   ELSE acc + 1023 + list_max(list_transform(units,
                        u -> CASE WHEN substr(w, i::INT, length(u)) = u
                             THEN length(u)::BIGINT ELSE 1::BIGINT END))
                 END) // 1024 AS cnt
        FROM (SELECT DISTINCT w FROM wtd), vocab
    ),
    per AS (
        SELECT doc_id, sum(tf)::BIGINT AS n_words,
               sum(tf * length(w))::BIGINT AS n_chars,
               sum(tf * cnt)::BIGINT AS n_bpe_tokens
        FROM wtd JOIN enc USING (w) GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_chars, n_bpe_tokens,
           {_DUCK_FL4.format(e="n_chars::DOUBLE / n_bpe_tokens")}
               AS compression
    FROM per
"""

# The resample oracle composes the mixture-weight oracle, recomputes
# the exact integer acceptance rates, and replays the hash-rank keep
# rule per document.
ORACLES["mix_resample_apply"] = f"""
    WITH mdw AS ({ORACLES["mix_domain_weights"]}),
    w AS (
        SELECT source, lang, share_scaled,
               floor(temp_weight * 10000 + 0.5)::BIGINT AS w
        FROM mdw
    ),
    ws AS (SELECT sum(w)::BIGINT AS w_sum FROM w),
    acc AS (
        SELECT source, lang,
               least(1000000,
                     (((w * 1000000) // w_sum) * 1000000)
                     // greatest(share_scaled, 1))::BIGINT AS accept_scaled
        FROM w, ws
    ),
    d AS (
        SELECT source, lang, doc_id,
               ('0x' || substr(md5(doc_id::VARCHAR || ':resample'),
                               1, 15))::BIGINT % 1000000 AS hv
        FROM documents
    )
    SELECT d.source, d.lang, count(*)::BIGINT AS n_docs,
           count(*) FILTER (WHERE hv < accept_scaled)::BIGINT AS n_kept,
           max(accept_scaled)::BIGINT AS accept_scaled
    FROM d JOIN acc USING (source, lang)
    GROUP BY d.source, d.lang
"""

# The funnel oracle COMPOSES the three stage oracles as nested
# subqueries (DuckDB allows WITH inside a CTE body), so the funnel is
# verified against the exact same stage definitions the standalone
# queries use — one source of truth per stage.
ORACLES["corpus_funnel_report"] = f"""
    WITH g AS ({ORACLES["quality_gopher_flags"]}),
    r AS ({ORACLES["quality_repetition_flags"]}),
    c AS ({ORACLES["quality_classifier_score"]}),
    s AS ({ORACLES["dedup_exact_substring"]}),
    d AS ({ORACLES["decontam_eval_overlap"]}),
    j AS (
        SELECT coalesce(g.keep, false) AS keep,
               coalesce(r.keep, false) AS rep_keep,
               coalesce(c.keep, false) AS cls_keep,
               coalesce(s.flagged, false) AS flagged,
               (doc.doc_id % {_EVAL_MOD} = 0) AS is_eval,
               coalesce(d.contaminated, false) AS contaminated
        FROM documents doc
        LEFT JOIN g USING (doc_id)
        LEFT JOIN r USING (doc_id)
        LEFT JOIN c USING (doc_id)
        LEFT JOIN s USING (doc_id)
        LEFT JOIN d USING (doc_id)
    ),
    one AS (
        SELECT count(*)::BIGINT AS n0,
               count(*) FILTER (WHERE keep)::BIGINT AS n1,
               count(*) FILTER (WHERE keep AND rep_keep)::BIGINT AS n2,
               count(*) FILTER (WHERE keep AND rep_keep
                                AND cls_keep)::BIGINT AS n3,
               count(*) FILTER (WHERE keep AND rep_keep AND cls_keep
                                AND NOT flagged)::BIGINT AS n4,
               count(*) FILTER (WHERE keep AND rep_keep AND cls_keep
                                AND NOT flagged
                                AND NOT is_eval)::BIGINT AS n5,
               count(*) FILTER (WHERE keep AND rep_keep AND cls_keep
                                AND NOT flagged
                                AND NOT is_eval
                                AND NOT contaminated)::BIGINT AS n6
        FROM j
    )
    SELECT 0::BIGINT AS stage_id, 'total' AS stage, n0 AS n_docs FROM one
    UNION ALL SELECT 1, 'gopher_quality', n1 FROM one
    UNION ALL SELECT 2, 'low_repetition', n2 FROM one
    UNION ALL SELECT 3, 'classifier_quality', n3 FROM one
    UNION ALL SELECT 4, 'exact_substring_dedup', n4 FROM one
    UNION ALL SELECT 5, 'holdout_removed', n5 FROM one
    UNION ALL SELECT 6, 'decontaminated', n6 FROM one
"""


ORACLES["corpus_novelty_curve"] = f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    nz AS (SELECT * FROM t WHERE len(toks) >= {_SUBSTR_N}),
    g AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(toks) - {_SUBSTR_N} + 2),
                   i -> array_to_string(
                       list_slice(toks, i, i + {_SUBSTR_N} - 1), ' ')
               )) AS gram
        FROM nz
    ),
    bg AS (
        SELECT DISTINCT doc_id // {_NOVELTY_BUCKET} AS bucket,
               {_DUCK_BIGHASH.format(e="gram")} AS g
        FROM g
    ),
    firsts AS (SELECT g, min(bucket) AS fb FROM bg GROUP BY g)
    SELECT bucket,
           count(*)::BIGINT AS n_gram_types,
           count(*) FILTER (WHERE fb = bucket)::BIGINT AS n_novel_types,
           (count(*) FILTER (WHERE fb = bucket) * 1000000)
               // count(*) AS novelty_ppm
    FROM bg JOIN firsts USING (g)
    GROUP BY bucket
"""

ORACLES["train_sequence_packing"] = f"""
    WITH d AS (
        SELECT doc_id,
               length({_DUCK_TOKS})::BIGINT AS n_tok
        FROM documents
    ),
    o AS (
        SELECT doc_id, n_tok,
               COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS tok_start
        FROM d WHERE n_tok > 0
    ),
    s AS (
        SELECT doc_id, tok_start, tok_start + n_tok AS tok_end,
               unnest(generate_series(tok_start // {_PACK_LEN},
                   (tok_start + n_tok - 1) // {_PACK_LEN})) AS chunk_id
        FROM o
    )
    SELECT chunk_id::BIGINT AS chunk_id,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN tok_start < chunk_id * {_PACK_LEN}
               THEN 1 ELSE 0 END)::BIGINT AS n_carryover,
           SUM(LEAST(tok_end, (chunk_id + 1) * {_PACK_LEN})
               - GREATEST(tok_start, chunk_id * {_PACK_LEN}))::BIGINT
               AS fill_tokens,
           MIN(doc_id)::BIGINT AS first_doc,
           MAX(doc_id)::BIGINT AS last_doc
    FROM s
    GROUP BY chunk_id
    ORDER BY chunk_id
"""
