"""Distributed k-means clustering over the embedding table.

The corpus-curation operator the ANN/dedup stack (similarity.py) stops
short of: full multi-iteration LLOYD clustering — the building block
behind cluster-balanced data mixing, SemDeDup-style semantic pruning,
and per-cluster corpus diagnostics at training-pipeline scale.  The
single-refinement ``ann_ivf_refined`` trains centroids once to sharpen
an index; THIS runs the classic assign→update loop to a fixed
iteration budget and reports the per-cluster trajectory, plus a
cluster-BALANCED deterministic subsample (the diversity-preserving
draw a mixture-construction pipeline takes from each cluster).

Exactness: everything after the scan-side ×10⁴ quantization is INTEGER
— squared-L2 distances are exact bigint sums, centroid updates are
truncating integer division (both engines truncate toward zero on
BIGINT and HUGEINT alike; verified ``-7 div 2 = -7 // 2 = -3``), and
argmin ties break on the smaller centroid id.  No floats anywhere, so
the Spark loop and the DuckDB oracle (the same iterations unrolled as
materialized CTEs, the ``linalg``/``graphs``/BPE discipline) agree to
the digit — the reason this uses L2 on quantized integers rather than
the float cosine of the IVF family.

Reference parity note: the reference connector (Decisions.Kinesis —
KinesisThreadJobs.cs record pump, KinesisMessageQueue.cs config) has no
analytics surface; this family belongs to the engine's training-data
extension set (SURVEY.md §7), not to reference coverage.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import cache, partial, reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from decisions_kinesis_spark.functions.parallel import materialize
from decisions_kinesis_spark.session import SessionMemo
from decisions_kinesis_spark.sources.tables import load_table

_KQ = 10_000  # scan-side quantization scale
_K = 8  # cluster count (seed = the K smallest vec_ids)
_KM_ITERS = 3  # fixed Lloyd budget (the pagerank/power-iteration rule)
_SAMPLE_PER_CLUSTER = 5  # balanced-draw quota per final cluster


#: the one spelling of the scan-side quantization and the pair
#: distance — shared with the streaming mini-batch dual
#: (tests/test_streaming_kmeans.py) so the proof can't drift
_QV_SQL = (
    f"transform(embedding, x -> cast(floor(cast(x as double)"
    f" * {_KQ} + 0.5) as bigint))"
)
_DIST_SQL = (
    "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)),"
    " 0L, (acc, x) -> acc + x)"
)


def _quantized_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv bigint[]) — the shared ×10⁴ half-up quantization.

    The parallelism guard matters downstream: this frame is
    localCheckpointed and crossJoined against the centroids every Lloyd
    iteration — on a single-split fixture all N·K distance folds would
    otherwise run on one core (no-op at scale)."""
    from decisions_kinesis_spark.functions.parallel import ensure_parallelism

    return ensure_parallelism(
        load_table(spark, "embeddings", sf_dir)
    ).select("vec_id", F.expr(_QV_SQL).alias("qv"))


#: single-slot memo for the Lloyd loop: the three kmeans queries share
#: one (session, sf_dir) loop result within a sweep instead of re-running
#: the 3-iteration crossJoin+checkpoint chain three times.  A
#: ``session.SessionMemo``, so another session (a ``newSession()``
#: sibling, or one of a restarted SparkContext) never reads these
#: checkpointed frames and a stopped context's frames go; bounded to ONE
#: entry so the retained localCheckpoint blocks (the session-aging
#: lesson) stay a single bounded set rather than accumulating across
#: sf_dirs.  perfbench, bench.py and tools clear it by this name.
_KM_LOOP_CACHE = SessionMemo(max_entries=1)


def _kmeans_loop(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame, Callable[[], DataFrame], DataFrame]:
    """The Lloyd loop of ``_run_kmeans_loop``, run once per (session,
    sf_dir) — memoized, see _KM_LOOP_CACHE."""
    return _KM_LOOP_CACHE.get_or_build(
        spark, (sf_dir,), lambda: _run_kmeans_loop(spark, sf_dir)
    )


def _run_kmeans_loop(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame, Callable[[], DataFrame], DataFrame]:
    """Run the fixed-budget Lloyd loop; return the per-iteration
    stats frames, the FINAL assignment (the iteration-``_KM_ITERS``
    argmin, i.e. membership under the last pre-update centroids), a
    memoized thunk returning the MATERIALIZED final (post-update)
    centroid frame (materialized on first call, so a consumer that
    reads it more than once pays the update aggregation once per slot,
    not per call), and the checkpointed quantized vectors.

    Per iteration: (1) ASSIGN — broadcast the ≤K centroid arrays
    against the corpus, distance = exact Σ(q−c)² via zip_with +
    aggregate (whole-stage codegen, no Python), argmin per vector via
    a min(struct(dist, cent_id)) aggregate that combines MAP-SIDE
    (the `_argmin_assign` lesson: a window here would shuffle the N·K
    expanded frame); (2) UPDATE — posexplode members to (cluster, pos,
    q), exact bigint sums reduce map-side over K·d groups, new
    component = sum div count (truncating), re-collect the d-bounded
    array per centroid.  Each iteration checkpoints ONLY the
    assignment (reused by stats AND update — avoids recomputing the
    N·K distance frame twice); the ≤K-row centroid frame is left lazy
    and rides the next round's assign job as a broadcast subtree
    (r14: one driver action per round instead of two — the BPE
    round-fusion shape).  Lineage still never compounds: every lazy
    centroid frame hangs off that round's CHECKPOINTED assignment,
    so the analyzed plan stays constant-size across rounds (the
    iterative-self-join lesson).

    An emptied cluster simply disappears (no members → no updated
    centroid → never assigned again) — identical on the oracle side,
    where the update join produces no rows for it.

    Bounds (d = 64, |q| ≤ ~2·10⁴): per-pair dist ≤ d·(2·|q|)² ≈ 10¹¹
    (bigint); per-cluster dist SUMS are corpus-scale → decimal(38,0)
    interior, transported as the bounded per-member MEAN (bigint);
    update sums |Σq| ≤ n·2·10⁴ stay in bigint to ~10¹⁴ members.
    """
    vecs = materialize(_quantized_vectors(spark, sf_dir))
    # seed centroids stay lazy too: a K-row filter off the checkpointed
    # vectors, consumed once by round 1's broadcast
    cents = vecs.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cent_id"), F.col("qv").alias("cv")
    )
    stats: list[DataFrame] = []
    assign = None
    for it in range(1, _KM_ITERS + 1):
        # the N·K pair frame carries ONLY (vec_id, cent_id, dist) — the
        # d-element array stays out of the argmin groupBy and the
        # checkpoint write; the update re-joins the slim assignment
        # back to the checkpointed vectors instead (N-vs-N equi-join:
        # AQE broadcasts it at small N, co-partitions it at scale)
        pairs = vecs.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "cent_id",
            F.expr(_DIST_SQL).alias("dist"),
        )
        assign = materialize(
            pairs.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cent_id")).alias("w"))
            .select(
                "vec_id",
                F.col("w.cent_id").alias("cent_id"),
                F.col("w.dist").alias("dist"),
            )
        )
        upd = (
            assign.join(vecs, "vec_id")
            .select("cent_id", F.posexplode("qv").alias("pos0", "q"))
            .groupBy("cent_id", "pos0")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
            .select("cent_id", "pos0", F.expr("s div n").alias("cval"))
        )
        # the ≤K-row centroid frame stays LAZY: it rides the NEXT
        # round's assign job as a broadcast subtree (the BPE round-
        # fusion shape — one driver action per round instead of two).
        # Lineage stays bounded because it hangs off the round's
        # CHECKPOINTED assignment + vectors, never off a prior lazy
        # round; the FINAL frame is materialized on demand, once per
        # loop slot, for the consumer that reads it twice (ch_index).
        cents = upd.groupBy("cent_id").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos0,"
                " cval))), s -> s.cval)"
            ).alias("cv")
        )
        l1 = upd.groupBy("cent_id").agg(
            F.sum(F.abs(F.col("cval"))).alias("centroid_l1")
        )
        stats.append(
            assign.groupBy("cent_id")
            .agg(
                F.count("*").alias("n_members"),
                F.sum(F.col("dist").cast("decimal(38,0)")).alias("sd"),
            )
            .join(l1, "cent_id")
            .select(
                F.lit(it).alias("iter"),
                F.col("cent_id").alias("cluster_id"),
                "n_members",
                F.expr("cast(sd div n_members as bigint)").alias(
                    "mean_dist"
                ),
                "centroid_l1",
            )
        )
    return stats, assign, cache(partial(materialize, cents)), vecs


def embedding_kmeans_inertia(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K-means clustering report: for each of the ``_KM_ITERS`` Lloyd
    iterations and each surviving cluster — member count, MEAN squared
    quantized-L2 distance to the centroid the iteration assigned
    against (the per-cluster inertia readout whose trajectory is the
    classic convergence diagnostic), and the L1 mass of the centroid
    UPDATED by that iteration (the movement readout).  Seeds are the
    K smallest vec_ids; every number is exact integer arithmetic on
    both engines (module docstring).

    Scale: assignment is a broadcast-K crossJoin reduced map-side; the
    update is a K·d-group exact-sum reduce; per-iteration lineage is
    cut by checkpointing only the assignment and the K-row centroid
    frame.  The corpus never shuffles to be assigned.
    """
    stats, _assign, _cents, _vecs = _kmeans_loop(spark, sf_dir)
    return reduce(DataFrame.union, stats)


def embedding_kmeans_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-BALANCED deterministic subsample: after the Lloyd loop,
    draw the ``_SAMPLE_PER_CLUSTER`` members with the smallest
    md5-derived hash from EVERY final cluster — the diversity-
    preserving draw (equal representation per semantic region, however
    lopsided the cluster sizes) a mixture-construction or eval-set
    pipeline takes, reproducible across engines, runs, and cluster
    sizes unlike ``rand()`` (the ``sample_per_lang_hashrank``
    discipline at the cluster axis).

    Scale: the rank is a row_number window per cluster — Spark's
    WindowGroupLimit takes a PARTIAL per-partition top-K before the
    exchange, so only K·partitions candidate rows shuffle, not the
    corpus.
    """
    _stats, assign, _cents, _vecs = _kmeans_loop(spark, sf_dir)
    h = F.expr(
        "cast(conv(substring(md5(cast(vec_id as string)), 1, 15), 16, 10)"
        " as bigint)"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.asc("h"), F.asc("vec_id")
    )
    return (
        assign.select(F.col("cent_id").alias("cluster_id"), "vec_id")
        .withColumn("h", h)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _SAMPLE_PER_CLUSTER)
        .select("cluster_id", "vec_id", "rk")
    )


def embedding_kmeans_ch_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calinski–Harabasz cluster-validity index over the final Lloyd
    state — the "is this K any good" model-selection readout (CH is
    the variance-ratio criterion: between-cluster dispersion per
    degree of freedom over within-cluster dispersion per degree of
    freedom; higher = tighter, better-separated clusters).  Chosen
    over Davies–Bouldin/silhouette because CH uses SQUARED distances
    only — every term stays an exact integer at the ×10⁴ quantization,
    no sqrt anywhere, so both engines agree to the digit.

    Definitions (final membership A = the iteration-``_KM_ITERS``
    argmin; final centroids C = the post-update truncated means of A;
    global centroid g = per-dim truncated mean over ALL vectors):
    W = Σ_rows ‖q − C(cluster)‖², B = Σ_k n_k·‖C_k − g‖²,
    ``ch_ppm = B·(N−K)·10⁶ div (W·(K−1))`` — NULL when K ≤ 1 or W = 0
    (degenerate: one surviving cluster, or every member exactly on its
    centroid).  W and B are corpus-scale exact integers → DECIMAL(38,0)
    interiors transported as DIGIT STRINGS (the r8 decimal-transport
    rule); the bounded ratio is BIGINT.  Headroom: B·(N−K)·10⁶ stays
    under 10³⁸ to N ≈ 10¹⁰ vectors at d = 64 — past that, pre-divide
    both dispersions by N before the ratio.

    Scale: W is one broadcast-K join over the checkpointed corpus
    reduced map-side; g is a d-group reduce; B is K·d-sized arithmetic.
    """
    _stats, assign, final_cents, vecs = _kmeans_loop(spark, sf_dir)
    # the final centroid frame is consumed twice below (W's broadcast
    # join and B) — read the loop slot's materialized copy (≤K rows) so
    # the update aggregation behind it doesn't replay per consumer
    cents = final_cents()
    sz = assign.groupBy("cent_id").agg(F.count("*").alias("n"))
    w = (
        assign.drop("dist")
        .join(vecs, "vec_id")
        .join(F.broadcast(cents), "cent_id")
        .select(F.expr(_DIST_SQL).alias("d2"))
        .agg(F.sum(F.col("d2").cast("decimal(38,0)")).alias("w"))
    )
    g = (
        vecs.select(F.posexplode("qv").alias("pos0", "q"))
        .groupBy("pos0")
        .agg(F.expr("sum(q) div count(*)").alias("gval"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos0, gval))),"
                " s -> s.gval)"
            ).alias("gv")
        )
    )
    b = (
        cents.join(F.broadcast(sz), "cent_id")
        .crossJoin(F.broadcast(g))
        .select(
            "n",
            # n × per-cluster separation exceeds int64 at corpus scale
            # (n ≤ N, separation ≤ d·(2·10⁴)²) — lift n to decimal
            # BEFORE the product
            F.expr(
                "cast(n as decimal(38,0))"
                " * aggregate(zip_with(cv, gv, (a, c) -> (a - c)"
                " * (a - c)), 0L, (acc, x) -> acc + x)"
            ).alias("bk"),
        )
        .agg(
            F.sum("bk").alias("b"),
            F.count("*").alias("k_clusters"),
            F.sum("n").alias("n_vectors"),
        )
    )
    return b.crossJoin(w).select(
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        F.col("k_clusters").cast("bigint").alias("k_clusters"),
        F.col("w").cast("string").alias("w_total"),
        F.col("b").cast("string").alias("b_total"),
        F.expr(
            "cast(case when k_clusters <= 1 or w = 0 then null else"
            " b * (n_vectors - k_clusters) * 1000000"
            " div (w * (k_clusters - 1)) end as bigint)"
        ).alias("ch_ppm"),
    )


def _kmeans_ctes() -> str:
    """The shared WITH-chain: quantized explode → c0 → per iteration
    (pair distances → argmin assignment → updated centroids); final
    SELECTs are appended by each oracle."""
    parts = [
        f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id AS row,
                   generate_subscripts(embedding, 1) AS pos,
                   floor(unnest(embedding)::DOUBLE * {_KQ} + 0.5)::BIGINT
                       AS q
            FROM embeddings
        ),
        c0 AS MATERIALIZED (
            SELECT row AS cent_id, pos, q AS cval FROM e WHERE row < {_K}
        )"""
    ]
    for i in range(1, _KM_ITERS + 1):
        parts.append(
            f""",
        p{i} AS MATERIALIZED (
            SELECT e.row, c.cent_id,
                   sum((e.q - c.cval) * (e.q - c.cval))::BIGINT AS dist
            FROM e JOIN c{i - 1} c USING (pos)
            GROUP BY 1, 2
        ),
        a{i} AS MATERIALIZED (
            SELECT row, cent_id, dist FROM (
                SELECT row, cent_id, dist,
                       row_number() OVER (PARTITION BY row
                                          ORDER BY dist, cent_id) AS rn
                FROM p{i}
            ) WHERE rn = 1
        ),
        c{i} AS MATERIALIZED (
            SELECT a.cent_id, e.pos,
                   (sum(e.q) // count(*))::BIGINT AS cval
            FROM a{i} a JOIN e ON e.row = a.row
            GROUP BY 1, 2
        )"""
        )
    return "".join(parts)


def _kmeans_inertia_oracle() -> str:
    selects = []
    for i in range(1, _KM_ITERS + 1):
        selects.append(
            f"""
        SELECT {i} AS iter, s.cluster_id, s.n_members, s.mean_dist,
               l.centroid_l1
        FROM (
            SELECT cent_id AS cluster_id, count(*)::BIGINT AS n_members,
                   (sum(dist::HUGEINT) // count(*))::BIGINT AS mean_dist
            FROM a{i} GROUP BY 1
        ) s JOIN (
            SELECT cent_id AS cluster_id,
                   sum(abs(cval))::BIGINT AS centroid_l1
            FROM c{i} GROUP BY 1
        ) l USING (cluster_id)"""
        )
    return _kmeans_ctes() + " UNION ALL ".join(selects)


def _kmeans_sample_oracle() -> str:
    return (
        _kmeans_ctes()
        + f""",
        hashed AS (
            SELECT cent_id AS cluster_id, row AS vec_id,
                   ('0x' || substr(md5(row::VARCHAR), 1, 15))::BIGINT
                       AS hv
            FROM a{_KM_ITERS}
        ),
        ranked AS (
            SELECT cluster_id, vec_id,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY hv ASC, vec_id ASC)
                       ::BIGINT AS rk
            FROM hashed
        )
        SELECT cluster_id, vec_id, rk FROM ranked
        WHERE rk <= {_SAMPLE_PER_CLUSTER}
        """
    )


def _kmeans_ch_oracle() -> str:
    last = _KM_ITERS
    return (
        _kmeans_ctes()
        + f""",
        sz AS (
            SELECT cent_id, count(*)::BIGINT AS n
            FROM a{last} GROUP BY 1
        ),
        wv AS (
            SELECT sum(((e.q - c.cval) * (e.q - c.cval))::HUGEINT) AS w
            FROM a{last} a
            JOIN e ON e.row = a.row
            JOIN c{last} c ON c.cent_id = a.cent_id AND c.pos = e.pos
        ),
        g AS (
            SELECT pos, (sum(q) // count(*))::BIGINT AS gval
            FROM e GROUP BY 1
        ),
        bv AS (
            SELECT sum(sz.n::HUGEINT
                       * ((c.cval - g.gval) * (c.cval - g.gval))) AS b,
                   count(DISTINCT c.cent_id)::BIGINT AS k_clusters,
                   (SELECT sum(n) FROM sz)::BIGINT AS n_vectors
            FROM c{last} c
            JOIN g USING (pos)
            JOIN sz ON sz.cent_id = c.cent_id
        )
        SELECT n_vectors, k_clusters,
               w::VARCHAR AS w_total, b::VARCHAR AS b_total,
               (CASE WHEN k_clusters <= 1 OR w = 0 THEN NULL ELSE
                    b * (n_vectors - k_clusters) * 1000000
                    // (w * (k_clusters - 1)) END)::BIGINT AS ch_ppm
        FROM bv, wv
        """
    )


QUERIES = {
    "embedding_kmeans_inertia": embedding_kmeans_inertia,
    "embedding_kmeans_balanced_sample": embedding_kmeans_balanced_sample,
    "embedding_kmeans_ch_index": embedding_kmeans_ch_index,
}

ORACLES = {
    "embedding_kmeans_inertia": _kmeans_inertia_oracle(),
    "embedding_kmeans_balanced_sample": _kmeans_sample_oracle(),
    "embedding_kmeans_ch_index": _kmeans_ch_oracle(),
}
