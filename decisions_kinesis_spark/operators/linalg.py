"""Distributed iterative linear algebra over the embedding table.

The missing family next to the ANN/clustering stack (similarity.py):
POWER ITERATION for the dominant right-singular direction of the
embedding matrix — the building block behind PCA whitening, spectral
hashing, and the "principal drift direction" diagnostics an embedding
pipeline monitors at scale.

Everything runs on INTEGER-QUANTIZED vectors with truncating integer
division (both engines truncate toward zero — verified ``-7 div 2 =
-7 // 2 = -3``), so the Spark loop and the DuckDB oracle (the same
iterations unrolled as materialized CTEs) agree to the last digit.
No floats anywhere after the initial ×10⁴ quantization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from decisions_kinesis_spark.functions.parallel import materialize
from decisions_kinesis_spark.sources.tables import load_table

_Q = 10_000  # input quantization scale
_D = 10_000  # dot-product downscale inside each iteration
_S = 10_000  # per-iteration vector renormalization (max-abs target)
_PI_ITERS = 3


def embedding_power_iteration_pc1(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dominant singular direction of the embedding matrix by 3 rounds
    of power iteration on the Gram operator: v ← normalize(Aᵀ(Av)),
    starting from the all-ones direction.  Returns the 64 components
    of the final direction at max-abs scale 10⁴ (1-based ``pos``).

    Integer recurrence (exact in both engines): per row r the score
    sᵣ = Σⱼ qᵣⱼ·vⱼ, downscaled sᵣ' = sᵣ div 10⁴; per coordinate j the
    new weight wⱼ = Σᵣ sᵣ'·qᵣⱼ; renormalized vⱼ' = (wⱼ·10⁴) div
    max|w|.  With |q| ≤ 10⁴ and |v| ≤ 10⁴: |sᵣ| ≤ d·10⁸ (6.4·10⁹ at
    d=64), |sᵣ'·q| ≤ 6.4·10⁹, so wⱼ stays inside bigint up to ~10⁹
    rows — the 100 TB envelope at this dimension; beyond that, raise
    _D (the analysis in ``ann_ivf_refined`` applies).

    Scale: the exploded (row, pos, q) frame is materialized ONCE and
    reused by all iterations; the 64-row direction frame broadcasts
    into the dot-product join; the per-row score frame joins back by
    row key (AQE broadcasts it at small N; at large N it is an
    equi-join co-partitioned with the explode) and both reductions
    map-side combine (N groups, then d groups).  Each iteration
    checkpoints only the 64-row direction (the
    ``bpe_merges_iterative`` constant-plan lesson).
    """
    # deliberately NO parallelism guard (measured A/B at sf0.1: OFF
    # 1.09 s vs ON 1.90 s best-of-4 — the iteration joins dominate,
    # not the scan-side explode, and the loop re-pays the exchange)
    emb = load_table(spark, "embeddings", sf_dir)
    e = materialize(
        emb.select(
            F.col("vec_id").alias("row"),
            F.posexplode("embedding").alias("pos0", "x"),
        )
        .select(
            "row",
            (F.col("pos0") + 1).alias("pos"),
            F.expr(
                f"cast(floor(cast(x as double) * {_Q} + 0.5) as bigint)"
            ).alias("q"),
        )
    )
    v = materialize(
        e.select("pos")
        .distinct()
        .select("pos", F.lit(_S).cast("bigint").alias("val"))
    )
    for _ in range(_PI_ITERS):
        s = (
            e.join(F.broadcast(v), "pos")
            .groupBy("row")
            .agg(F.sum(F.expr("q * val")).alias("s"))
        )
        w = (
            e.join(s, "row")
            .groupBy("pos")
            .agg(F.sum(F.expr(f"(s div {_D}) * q")).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = materialize(
            w.crossJoin(F.broadcast(m))
            # m = 0 guard: a degenerate (all-zero / perfectly
            # cancelling) embedding table renormalizes to the zero
            # direction instead of dividing by zero — same CASE on the
            # oracle side
            .select(
                "pos",
                F.expr(
                    f"case when m = 0 then 0L"
                    f" else (w * {_S}) div m end"
                ).alias("val"),
            )
        )
    return v.select("pos", F.col("val").alias("component"))


def _power_iteration_ctes() -> str:
    """The shared WITH-chain (explode → v0 → s/w/v per iteration);
    both oracles append their own final SELECT — no string surgery on
    a finished statement."""
    parts = [
        f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id AS row,
                   generate_subscripts(embedding, 1) AS pos,
                   floor(unnest(embedding)::DOUBLE * {_Q} + 0.5)::BIGINT
                       AS q
            FROM embeddings
        ),
        v0 AS MATERIALIZED (
            SELECT DISTINCT pos, {_S}::BIGINT AS val FROM e
        )"""
    ]
    for i in range(1, _PI_ITERS + 1):
        parts.append(
            f""",
        s{i} AS MATERIALIZED (
            SELECT e.row, sum(e.q * v.val)::BIGINT AS s
            FROM e JOIN v{i - 1} v USING (pos) GROUP BY e.row
        ),
        w{i} AS MATERIALIZED (
            SELECT e.pos, sum((s.s // {_D}) * e.q)::BIGINT AS w
            FROM e JOIN s{i} s USING (row) GROUP BY e.pos
        ),
        v{i} AS MATERIALIZED (
            SELECT pos,
                   CASE WHEN m = 0 THEN 0::BIGINT
                        ELSE (w * {_S}) // m END AS val
            FROM w{i}, (SELECT max(abs(w))::BIGINT AS m FROM w{i})
        )"""
        )
    return "".join(parts)


def _power_iteration_oracle() -> str:
    return (
        _power_iteration_ctes()
        + f"""
        SELECT pos, val AS component FROM v{_PI_ITERS}
        """
    )


def embedding_pc1_projection_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spectral drift diagnostics: project every embedding onto the
    power-iteration direction and report per-LABEL projection stats
    (n, mean, min, max — ×10⁻⁸-descaled, floor-rounded) — the "is one
    cohort drifting along the principal axis" monitor an embedding
    pipeline runs after each model refresh.

    The projection sᵣ = Σⱼ qᵣⱼ·vⱼ is the same exact-integer dot
    product the iteration uses (|s| ≤ 6.4·10⁹); per-label means divide
    the exact bigint sum once.  Scale: reuses the iteration plan plus
    ONE more broadcast-direction join and a |labels|-key reduce.
    """
    from decisions_kinesis_spark.functions.rounding import fl4

    # deliberately NO parallelism guard (measured A/B at sf0.1: OFF
    # 1.33 s vs ON 2.65 s best-of-4 — composes power_iteration, which
    # already measured against the guard)
    emb = load_table(spark, "embeddings", sf_dir)
    v = embedding_power_iteration_pc1(spark, sf_dir).select(
        "pos", F.col("component").alias("val")
    )
    e = emb.select(
        F.col("vec_id").alias("row"),
        "label",
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "row",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.expr(
            f"cast(floor(cast(x as double) * {_Q} + 0.5) as bigint)"
        ).alias("q"),
    )
    proj = (
        e.join(F.broadcast(v), "pos")
        .groupBy("row", "label")
        .agg(F.sum(F.expr("q * val")).alias("s"))
    )
    descale = float(_Q) * float(_S)
    return (
        proj.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum("s").alias("ssum"),
            F.min("s").alias("smin"),
            F.max("s").alias("smax"),
        )
        .select(
            "label",
            "n",
            fl4(
                (F.col("ssum").cast("double") / F.col("n").cast("double"))
                / descale
            ).alias("mean_proj"),
            fl4(F.col("smin").cast("double") / descale).alias("min_proj"),
            fl4(F.col("smax").cast("double") / descale).alias("max_proj"),
        )
    )


def _projection_oracle() -> str:
    # compose the shared power-iteration CTE chain, then one
    # projection + reduce
    descale = float(_Q) * float(_S)
    return (
        _power_iteration_ctes()
        + f""",
        el AS MATERIALIZED (
            SELECT vec_id AS row, label,
                   generate_subscripts(embedding, 1) AS pos,
                   floor(unnest(embedding)::DOUBLE * {_Q} + 0.5)::BIGINT
                       AS q
            FROM embeddings
        ),
        proj AS MATERIALIZED (
            SELECT el.row, el.label, sum(el.q * v.val)::BIGINT AS s
            FROM el JOIN v{_PI_ITERS} v USING (pos)
            GROUP BY el.row, el.label
        )
        SELECT label, count(*)::BIGINT AS n,
               floor(((sum(s)::DOUBLE / count(*)::DOUBLE) / {descale})
                     * 10000 + 0.5) / 10000.0 AS mean_proj,
               floor((min(s)::DOUBLE / {descale}) * 10000 + 0.5)
                   / 10000.0 AS min_proj,
               floor((max(s)::DOUBLE / {descale}) * 10000 + 0.5)
                   / 10000.0 AS max_proj
        FROM proj GROUP BY label
        """
    )


QUERIES = {
    "embedding_power_iteration_pc1": embedding_power_iteration_pc1,
    "embedding_pc1_projection_stats": embedding_pc1_projection_stats,
}

ORACLES = {
    "embedding_power_iteration_pc1": _power_iteration_oracle(),
    "embedding_pc1_projection_stats": _projection_oracle(),
}
