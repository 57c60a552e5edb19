"""Streaming × dedup crossover: CONTINUOUS maintenance of the
doc-sampled exact-Jaccard estimator (equivalence proof #29) — the
streaming dual of ``dedup_ngram_jaccard_sampled``.

The interesting state dynamics: the sampling modulus Q EVOLVES with
the corpus size (Q = smallest power of two ≥ D div target).  With an
arbitrary modulus sequence (e.g. the floor-div 5 → 6) the new sample
is NOT a subset of the old one, so a maintainer that discarded
unsampled docs could never recover the new sample — the CUPED
non-recoverability class.  The POWER-OF-TWO restriction makes moduli
NEST (``hash % 2Q == 0 ⇒ hash % Q == 0``), so the sample is MONOTONE
under growth: the maintainer keeps only currently-sampled signature
rows (state bounded at ~target rows by construction) and PRUNES when Q
doubles; pruned docs provably never re-enter.

Hard signal: documents stream in three micro-batches sized so Q really
evolves 1 → 1 → 2 mid-stream (the prune fires on real rows); the final
state, pushed through the operator's own frame-level pieces
(`_same_band_pairs` + the HT aggregation), equals the batch
``dedup_ngram_jaccard_sampled`` row for row at sf0.1.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from _helpers import stage_file as _stage_file
from decisions_kinesis_spark.operators.dedup import (
    _ngram_sample_q,
    _ngram_sig_from_docs,
    _pow2_ceil,
    _same_band_pairs,
    _NGRAM_SAMPLE_TARGET,
    dedup_ngram_jaccard_sampled,
)
from decisions_kinesis_spark.operators.textops import _BIGHASH
from decisions_kinesis_spark.sources.tables import load_table

SF = "/root/testdata/sf0.1"  # 5000 docs → Q evolves 1 → 1 → 2


def test_streaming_sampled_jaccard_maintenance_matches_batch(spark, tmp_path):
    docs = load_table(spark, "documents", SF).select(
        "doc_id", "lang", "text"
    )
    total_docs = docs.count()
    assert _pow2_ceil(max(1, total_docs // _NGRAM_SAMPLE_TARGET)) >= 2, (
        "fixture must be big enough for Q to leave 1, or the prune "
        "dynamics go untested"
    )
    src = str(tmp_path / "docs_stream")
    os.makedirs(src)
    now = time.time()
    parts = docs.withColumn(
        "m", F.pmod(F.xxhash64("doc_id"), F.lit(3))
    )
    for i in range(3):
        _stage_file(
            parts.filter(F.col("m") == i).drop("m"),
            src,
            f"b{i}.parquet",
            now - 120 + 60 * i,
        )

    # maintained state: signature rows of CURRENTLY-sampled docs (+ the
    # doc hash for pruning); bounded at ~target rows by construction
    state: dict[int, tuple] = {}
    sig_schema = {"holder": None}
    track = {"d": 0, "q": 1, "prunes": 0, "pruned_rows": 0}

    def handler(batch_df, epoch_id):
        track["d"] += batch_df.count()
        q_now = _pow2_ceil(max(1, track["d"] // _NGRAM_SAMPLE_TARGET))
        sig = _ngram_sig_from_docs(
            batch_df.select("doc_id", "lang", "text")
        ).withColumn("h", F.expr(_BIGHASH.format(e="cast(doc_id as string)")))
        if sig_schema["holder"] is None:
            sig_schema["holder"] = sig.schema
        for r in sig.where(F.expr(f"h % {q_now} = 0")).collect():
            state[r["doc_id"]] = tuple(r)
        if q_now > track["q"]:
            # Q doubled: nested moduli guarantee the new sample is a
            # subset of the carried rows — prune, never re-admit
            track["prunes"] += 1
            h_idx = list(sig_schema["holder"].fieldNames()).index("h")
            drop = [k for k, v in state.items() if v[h_idx] % q_now != 0]
            track["pruned_rows"] += len(drop)
            for k in drop:
                del state[k]
            track["q"] = q_now

    q = (
        spark.readStream.schema("doc_id bigint, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in time"

    # the evolution actually happened: Q left 1 and real rows pruned
    assert track["q"] == _ngram_sample_q(spark, SF)
    assert track["prunes"] >= 1 and track["pruned_rows"] > 0

    # derive through the operator's own frame-level pieces
    m = spark.createDataFrame(
        list(state.values()), schema=sig_schema["holder"]
    ).drop("h")
    pairs = _same_band_pairs(m)
    docs_agg = m.groupBy("lang").agg(F.count("*").alias("n_docs_sampled"))
    stats = pairs.groupBy("lang").agg(
        F.count("*").alias("n_pairs_sampled"),
        F.sum((F.col("jac") >= 0.8).cast("bigint")).alias(
            "n_neardup_sampled"
        ),
    )
    qf = track["q"]
    got = sorted(
        (
            r["lang"], qf, r["n_docs_sampled"],
            r["n_pairs_sampled"] or 0, r["n_neardup_sampled"] or 0,
            (r["n_pairs_sampled"] or 0) * qf * qf,
            (r["n_neardup_sampled"] or 0) * qf * qf,
        )
        for r in docs_agg.join(stats, "lang", "left").collect()
    )

    batch = sorted(
        (
            r["lang"], r["sample_q"], r["n_docs_sampled"],
            r["n_pairs_sampled"], r["n_neardup_sampled"],
            r["est_pairs"], r["est_neardup"],
        )
        for r in dedup_ngram_jaccard_sampled(spark, SF).collect()
    )
    assert batch
    assert got == batch
