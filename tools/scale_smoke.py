"""Empirical scale smoke: replicate the sf0.1 corpus K× (default 20 —
100k documents / 40k embeddings) and measure how the heavy operators'
wall-clock grows relative to 1×.

Correctness is the oracle harness's job at the driver SFs; THIS tool
answers the 100 TB question with data: a family whose time ratio
tracks the data ratio (±ε for fixed overhead) is shuffle-linear; a
super-linear ratio exposes a quadratic candidate set or a
single-reducer stage.

Replicas are deterministically perturbed so they are NOT near-dups of
their originals (every 3rd token is suffixed with the replica id →
token-set Jaccard ≈ 0.5, below the dedup thresholds; embeddings are
CIRCULARLY ROTATED by the replica id — norm- and marginal-preserving,
and a rotated copy's cosine to its original is ~random-vector-level,
unlike the earlier single-component offset which (a) left replicas
cosine-near-duplicates and (b) shifted the global mean by ±7 vs the
±0.5 component scale, collapsing sign-LSH into one bucket).  This
keeps the candidate-pair volume realistic instead of exploding it
artificially with 20-way duplicates.

Usage:  python tools/scale_smoke.py [K] [op ...]
Writes replicated parquet under .scale_smoke/ (gitignored) and prints
one JSON line {op: {"t1": sec, "tK": sec, "ratio": tK/t1}, ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

BASE = "/root/testdata/sf0.1"
OUT = "/root/repo/.scale_smoke"  # per-K subdir; reused across runs

DEFAULT_OPS = (
    "quality_gopher_flags",
    "dedup_exact_substring",
    "text_dup_span_fraction",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_hamming_pairs",
    # dedup_ngram_jaccard_blocked is deliberately NOT a default: it is
    # a COMPLETE J>=0.8 candidate filter, quadratic in corpus size by
    # construction (measured 4.07G same-band pairs at k=100 — 45+ min;
    # see SCALE.md).  Pass it explicitly to re-measure the bound.  Its
    # executable disposition IS a default, so a regression in the
    # adaptive-Q sampling (the constant-budget claim) gets measured:
    "dedup_ngram_jaccard_sampled",
    "dedup_components",
    "ann_ivf_topk",
    "ann_cosine_topk",
    "dedup_embedding_components",
    "lm_bigram_score",
    "retrieval_bm25_topk",
)


def build_replica(spark, k: int) -> str:
    """K deterministic perturbed copies of documents + embeddings, plus
    FK-consistent K× replicas of the fact/event tables (orders +
    lineitem share shifted order keys so lineitem→orders integrity
    holds; part/supplier/customer keys stay, so per-dimension fan-in
    grows K× — the realistic growth mode for co-occurrence graphs and
    per-user sequences).  Dimension tables symlink from the base sf
    dir.  The dataset is K-keyed and immutable once built, so
    concurrent/subsequent runs reuse it instead of deleting it out
    from under each other."""
    out = f"{OUT}/k{k}v3"
    if os.path.isdir(f"{out}/_DONE"):
        return out
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    reps = spark.range(k).withColumnRenamed("id", "rep")
    big = (
        docs.crossJoin(F.broadcast(reps))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 1_000_000)
        .withColumn(
            "text",
            F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.expr(
                    "array_join(transform(split(text, ' '), (t, i) ->"
                    " if(i % 3 = 0, concat(t, '_', cast(rep as string)), t)),"
                    " ' ')"
                )
            ),
        )
        .drop("rep")
    )
    big.repartition(32).write.parquet(f"{out}/documents.parquet")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    bige = (
        emb.crossJoin(F.broadcast(reps))
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * 1_000_000)
        .withColumn(
            "embedding",
            # circular rotation by rep mod dims: norm/marginal-
            # preserving, and rotated copies decorrelate in cosine
            # (mod keeps the slice lengths valid at K > dims; the
            # dims-th replica aliasing back to an exact copy is the
            # honest near-dup rate of a huge corpus)
            F.expr(
                "if(rep % size(embedding) = 0, embedding, concat("
                " slice(embedding, rep % size(embedding) + 1,"
                "       size(embedding) - rep % size(embedding)),"
                " slice(embedding, 1, rep % size(embedding))))"
            ),
        )
        .drop("rep")
    )
    bige.repartition(32).write.parquet(f"{out}/embeddings.parquet")
    orders = spark.read.parquet(f"{BASE}/orders.parquet")
    (
        orders.crossJoin(F.broadcast(reps))
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * 1_000_000_000)
        .drop("rep")
        .repartition(32)
        .write.parquet(f"{out}/orders.parquet")
    )
    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    (
        li.crossJoin(F.broadcast(reps))
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * 1_000_000_000)
        .drop("rep")
        .repartition(32)
        .write.parquet(f"{out}/lineitem.parquet")
    )
    # events.ts is a naive TIMESTAMP(MICROS): go through load_table,
    # which reads it as UTC instants of the session timestamp type
    from decisions_kinesis_spark.sources.tables import load_table

    ev = load_table(spark, "events", BASE)
    (
        ev.crossJoin(F.broadcast(reps))
        .withColumn("event_id", F.col("event_id") + F.col("rep") * 1_000_000_000_000)
        .drop("rep")
        .repartition(32)
        .write.parquet(f"{out}/events.parquet")
    )
    for t in "region nation customer supplier part".split():
        os.symlink(f"{BASE}/{t}.parquet", f"{out}/{t}.parquet")
    os.makedirs(f"{out}/_DONE")
    return out


def run(spark, queries, name: str, sf_dir: str) -> float:
    # the kmeans family memoizes its Lloyd loop per (session, sf_dir)
    # and composition queries memoize stage frames — correct for a
    # sweep, but THIS tool times the operators themselves, so drop
    # both memos before every pass (otherwise the second pass and
    # every sibling op time only the post-memo stage; same rule as
    # bench.py's _clear_memos)
    from decisions_kinesis_spark.operators import clustering, stage_cache

    clustering._KM_LOOP_CACHE.clear()
    stage_cache.clear()
    t0 = time.perf_counter()
    queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    ops = tuple(sys.argv[2:]) or DEFAULT_OPS

    import __spark_entry__ as entry_mod
    # sweep entry points opt into the WindowExec WARN silence
    # (ADVICE r11 #3); interactive sessions keep the warning.
    os.environ.setdefault("SPARK_GRAFT_QUIET_WINDOWEXEC", "1")
    from decisions_kinesis_spark.session import get_session

    spark = get_session(app_name="dks-scale-smoke")
    queries = entry_mod.queries()
    out_dir = build_replica(spark, k)

    out: dict[str, dict[str, float]] = {}
    for name in ops:
        # warm both paths once (codegen/JIT), then time steady-state
        t1 = min(run(spark, queries, name, BASE) for _ in range(2))
        tk = min(run(spark, queries, name, out_dir) for _ in range(2))
        out[name] = {"t1": t1, "tK": tk, "ratio": round(tk / t1, 2)}
        print(f"  {name}: 1x={t1}s {k}x={tk}s ratio={out[name]['ratio']}",
              file=sys.stderr)
    print(json.dumps({"k": k, "ops": out}))


if __name__ == "__main__":
    main()
