"""Composed training-data preparation pipeline (north-star, SURVEY §7 M6).

One end-to-end chain of the engine's own operators — the shape a real
LLM-corpus preparation job has, registered as a single oracle-checked
query so composition itself (not just each operator alone) is verified:

  corpus (∪ injected dups)
    → exact dedup (md5 keeper = min doc_id per hash)
    → quality signals (stopword / punct / length, textops)
    → language gate (English stopword-ratio heuristic)
    → quality gate (composite score ≥ 0.5)
    → (doc_id, lang, n_tok, quality)

Scale: the dedup step is one uniform-key shuffle; every other step is
a scan-side projection — the whole pipeline is a single shuffle plus
codegen'd filters, which is exactly how it should look at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from decisions_kinesis_spark.operators.textops import (
    _DUCK_QUALITY,
    _DUCK_TOKS,
    _STOP_SQL,
    with_quality_signals,
)
from decisions_kinesis_spark.sources.tables import load_table


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring.  Gates: en_ratio ≥ 0.05 (language),
    quality ≥ 0.5 (composite score); duplicates lose to the lowest
    doc_id carrying the same content hash."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
    copies = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "lang", "text"
    )
    corpus = docs.unionByName(copies).withColumn("fp", F.md5("text"))
    # keeper via partial-aggregating groupBy + join (not a window over
    # fp): a hot fingerprint shrinks map-side and AQE can split the
    # probe side — see dedup_exact
    keepers = corpus.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    kept = corpus.join(keepers, "fp").filter(F.col("doc_id") == F.col("keeper"))
    # stop_ratio from with_quality_signals IS the en_ratio heuristic —
    # reuse the computed column instead of re-evaluating the interpreted
    # stopword filter (NOTES.md PERF LESSON: lambdas get re-inlined per
    # consumer)
    scored = with_quality_signals(kept).withColumn("en_ratio", F.col("stop_ratio"))
    return scored.filter(
        (F.col("en_ratio") >= 0.05) & (F.col("quality") >= 0.5)
    ).select(
        "doc_id",
        "lang",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        "quality",
    )


QUERIES = {
    "pipeline_clean_corpus": pipeline_clean_corpus,
}

ORACLES = {
    "pipeline_clean_corpus": f"""
        WITH corpus AS (
            SELECT doc_id, lang, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, lang, text
            FROM documents WHERE doc_id < 20
        ),
        kept AS (
            SELECT doc_id, lang, text
            FROM (
                SELECT *, doc_id = min(doc_id) OVER (PARTITION BY md5(text))
                           AS keep
                FROM corpus
            ) WHERE keep
        ),
        sig AS (
            SELECT doc_id, lang,
                   {_DUCK_TOKS} AS toks,
                   len({_DUCK_TOKS})::DOUBLE AS n_tok,
                   length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE
                       / length(text) AS punct_ratio,
                   len(list_filter({_DUCK_TOKS}, x -> x IN ({_STOP_SQL})))::DOUBLE
                       AS stop_n
            FROM kept
        ),
        scored AS (
            SELECT doc_id, lang, n_tok, stop_ratio,
                   stop_ratio AS en_ratio, punct_ratio,
                   {_DUCK_QUALITY} AS quality
            FROM (SELECT *, stop_n / n_tok AS stop_ratio FROM sig)
        )
        SELECT doc_id, lang, n_tok::BIGINT AS n_tok, quality
        FROM scored
        WHERE en_ratio >= 0.05 AND quality >= 0.5
    """,
}
