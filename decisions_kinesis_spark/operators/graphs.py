"""Graph analytics over relationship graphs derived from the fixtures.

The reference has no graph surface (SURVEY.md §2: the only iterative
structure is the poll loop).  This module adds the iterative-algorithm
family member the LLM-data stack actually uses for source/domain
weighting: PageRank over an item co-occurrence graph — the "importance
from link structure" shape (CommonCrawl host ranking, citation-graph
quality priors), here over the *parts co-ordered together* graph
derived from ``lineitem``.

Determinism contract: ranks are EXACT BIGINT at a fixed 1e12 scale;
every per-iteration op is integer floor division / multiplication /
summation, so Spark and the DuckDB oracle (which unrolls the same
iterations as materialized CTEs — the ``bpe_merges_iterative``
pattern) agree to the last digit with no float tolerance anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from decisions_kinesis_spark.functions.parallel import materialize
from decisions_kinesis_spark.sources.tables import load_table

#: Fixed-point scale for rank mass.  Total mass ≤ _PR_SCALE and every
#: damped sum is ≤ 85·_PR_SCALE ≈ 8.5e13 — far inside bigint, and the
#: 12 integer digits keep ~6 significant digits after 5 halvings.
_PR_SCALE = 1_000_000_000_000
#: Synchronous iteration count.  3 (down from 5 in rounds ≤6) after a
#: measured convergence check at sf0.01 AND sf0.1: the top-20 SET is
#: identical at 3 vs 5 iterations on both SFs and the max per-node
#: rank delta is ≤ 929 ppm of the mean rank (ordering within the
#: top-20 can differ at that margin — acceptable for a centrality
#: prior); each iteration is a full edge-frame pass + barrier, so two
#: fewer iterations is the main wall-clock lever once construction is
#: overhead-bound.
_PR_ITERS = 3
_PR_TOPK = 20


def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, _PR_ITERS synchronous iterations) over the WEIGHTED
    part co-purchase graph: nodes are parts; each order containing two
    distinct parts contributes one unit of edge weight between them —
    frequently co-ordered pairs carry proportionally more rank mass
    (the multigraph semantics a co-occurrence prior actually wants).
    Returns the top-20 parts by final rank (tie-break part_key asc)
    with their weighted degree — the "centrality prior" table a
    mixture/weighting pipeline joins back.

    Graph construction: ``lineitem → distinct (order, part)`` then a
    self-equi-join on the order key, kept as one edge INSTANCE per
    co-ordering.  The join is quadratic only in *distinct parts per
    order*, which TPC-H bounds at 7 (and real carts bound similarly),
    so instance count stays O(|lineitem|) at any scale.

    Node-set contract: nodes (and the teleport mass 0.15/N) derive
    from EDGE ENDPOINTS — a part that never co-occurs with another
    part in any order is not a node and does not appear in the output.
    That is the co-occurrence-prior semantics wanted here (an isolated
    part has no link evidence and would carry only teleport mass); a
    variant seeding from the full ``part`` table would need explicit
    deg=0 dangling-mass handling on both engine sides.

    Integer semantics (exact in both engines): r₀ = SCALE div N;
    teleport = (15·SCALE) div (100·N); each edge instance carries
    r div deg(src) where deg = weighted (instance) degree;
    r' = teleport + (85·Σ incoming) div 100.  The graph is symmetric,
    so every node has deg ≥ 1 (no dangling mass) and every node
    receives messages (the incoming-sum frame covers all nodes — no
    outer-join backfill needed).

    Scale: the per-node contribution ``c = r div deg`` is computed on
    the |parts|-row rank×degree frame and BROADCAST into the edge join
    each iteration, so the edge frame — the only big thing — is a
    2-column (src, dst) frame localCheckpointed once, never
    re-shuffled, and never carries attached state; the message reduce
    is one map-side-combining sum keyed by part.  Each iteration
    checkpoints its |parts|-row rank frame so the plan stays
    constant-size (the ``bpe_merges_iterative`` lesson).  N and the
    two derived constants are driver-side scalars (the documented
    bounded-collect class — same as the IVF modulus).
    """
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "o")
        .where(F.col("a.p") != F.col("b.p"))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
    )
    return (
        pagerank(pairs)
        .select(
            F.col("node").alias("part_key"),
            F.col("r").alias("rank_scaled"),
            F.col("deg").alias("weighted_deg"),
        )
        .orderBy(F.col("rank_scaled").desc(), F.col("part_key"))
        .limit(_PR_TOPK)
    )


def pagerank(pairs: DataFrame, iters: int = _PR_ITERS) -> DataFrame:
    """Frame-level PageRank core over an edge-INSTANCE frame
    (src, dst) — weighted multigraph semantics, every node must appear
    as a src (symmetric graphs satisfy this by construction).  Returns
    (node, r, deg) with r at the exact integer _PR_SCALE recurrence
    documented on the query; shared by the query and the hand-computed
    fixture tests.

    The per-iteration contrib broadcast is valid while the NODE set is
    dimension-bounded — ~10⁸ nodes (≈1.6 GB at 16 B/row) is the
    ceiling; past that, drop the F.broadcast()/coalesce(1) wrappers so
    the contribution pass becomes a src-keyed co-partitioned shuffle
    join against the pre-partitioned edge frame (one extra exchange
    per iteration, no other change)."""
    # The edge frame stays (src, dst) ONLY: degree lives on the
    # |nodes|-row frame and the per-iteration contribution
    # ``c = r div deg`` is computed there BEFORE the broadcast, so no
    # window pass ever re-shuffles the edge frame by src and each edge
    # row carries one precomputed summand instead of a division
    # (measured: construction 2.1 s → 1.2 s at sf0.1; values identical
    # — deg is per-src, so per-edge ``r div deg`` == broadcast c).
    edges = materialize(pairs)
    degs = materialize(
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("deg"))
        # |parts|-row frame: pin to ONE partition before checkpointing —
        # each loop barrier then runs 1 task instead of |shuffle
        # partitions| and the per-iteration broadcast build reads one
        # block (measured ~0.6 s off the 5-iteration loop at sf0.1)
        .coalesce(1)
    )
    nn = degs.count()
    if nn == 0:
        # empty graph (empty input, or a filter that ate every edge):
        # a well-typed empty result, not a ZeroDivisionError from the
        # teleport constant (found by tools/empty_sweep.py)
        return degs.select(
            "node", F.lit(None).cast("bigint").alias("r"), "deg"
        )
    tp = (15 * _PR_SCALE) // (100 * nn)
    ranks = degs.select("node", F.lit(_PR_SCALE // nn).alias("r"))
    for _ in range(iters):
        contrib = ranks.join(degs, "node").select(
            F.col("node").alias("src"), F.expr("r div deg").alias("c")
        )
        ranks = materialize(
            edges.join(F.broadcast(contrib), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("s"))
            .select("node", F.expr(f"{tp} + (85 * s) div 100").alias("r"))
            # per-iteration pin: measured vs checkpointing every 2nd
            # level — identical wall-clock (the broadcast build is the
            # real per-level job; the checkpoint barrier is free), so
            # keep the simpler constant-plan form.  coalesce(1): the
            # frame is |parts| rows, so one task per barrier beats 32.
            .coalesce(1)
        )
    return ranks.join(degs, "node")


def _pagerank_oracle() -> str:
    """Unrolled-iteration DuckDB oracle (AS MATERIALIZED — the
    ``bpe_merges_iterative`` lesson: inlined CTEs replay the chain
    exponentially)."""
    parts = [
        """
        WITH li AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        edges AS MATERIALIZED (
            SELECT a.p AS src, b.p AS dst
            FROM li a JOIN li b USING (o) WHERE a.p <> b.p
        ),
        deg AS MATERIALIZED (
            SELECT src AS node, count(*)::BIGINT AS deg
            FROM edges GROUP BY src
        ),
        consts AS MATERIALIZED (
            SELECT count(*)::BIGINT AS nn,
                   {S} // count(*)::BIGINT AS r0,
                   (15 * {S}) // (100 * count(*)::BIGINT) AS tp
            FROM deg
        ),
        r0 AS MATERIALIZED (
            SELECT node, c.r0 AS r FROM deg, consts c
        )""".format(S=_PR_SCALE)
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            """,
        r{i} AS MATERIALIZED (
            SELECT e.dst AS node,
                   c.tp + (85 * sum(r.r // d.deg)) // 100 AS r
            FROM edges e
            JOIN r{j} r ON r.node = e.src
            JOIN deg d ON d.node = e.src, consts c
            GROUP BY e.dst, c.tp
        )""".format(i=i, j=i - 1)
        )
    parts.append(
        """
        SELECT r.node AS part_key, r.r::BIGINT AS rank_scaled,
               d.deg AS weighted_deg
        FROM r{k} r JOIN deg d ON d.node = r.node
        ORDER BY r.r DESC, r.node
        LIMIT {topk}
        """.format(k=_PR_ITERS, topk=_PR_TOPK)
    )
    return "".join(parts)


_MB_MIN_CO = 2  # minimum co-order support for a reported rule
_MB_TOPK = 50


def orders_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the same co-purchase structure PageRank
    ranks: for part pairs co-ordered at least _MB_MIN_CO times, the
    classic support / confidence / lift triple (exact ppm integers),
    top-_MB_TOPK by lift.  ``lift > 1e6`` means the pair co-occurs
    more than independence predicts — the cross-sell signal.

    Exact arithmetic: all three metrics are single integer floor
    divisions on bigint counts (``n_ab·N·10⁶ div (n_a·n_b)`` peaks
    ~2·10¹⁶ at sf0.1 and scales as N³ — still inside bigint to ~N=2·10⁶
    orders per the same analysis pattern as DSIR; beyond that widen to
    decimal as in orders_pareto_abc).

    Scale: the pair count is the bounded self-join (≤7 lines/order);
    per-part order counts map-side combine; the two tiny frames (pair
    counts ≥ min-support, part counts) join with the part frame
    broadcast; top-k is TakeOrderedAndProject, never a global sort.
    """
    li = materialize(
        load_table(spark, "lineitem", sf_dir)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        # four consumers (the n_orders action, both self-join sides,
        # per-part counts) would each replay the scan+dedup — the
        # n_orders pre-count already materializes this frame once and
        # threw it away; keep it instead (guide §2.4)
    )
    n_orders = li.select("o").distinct().count()
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "o")
        .where(F.col("a.p") < F.col("b.p"))
        .groupBy(
            F.col("a.p").alias("part_a"), F.col("b.p").alias("part_b")
        )
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= _MB_MIN_CO)
    )
    counts = li.groupBy("p").agg(F.count("*").alias("n"))
    return (
        pairs.join(
            F.broadcast(
                counts.select(
                    F.col("p").alias("part_a"), F.col("n").alias("n_a")
                )
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                counts.select(
                    F.col("p").alias("part_b"), F.col("n").alias("n_b")
                )
            ),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(f"(n_ab * 1000000) div {n_orders}").alias("support_ppm"),
            F.expr("(n_ab * 1000000) div n_a").alias("conf_a_to_b_ppm"),
            # lift numerator n_ab·N·10⁶ (~10²⁵ at 10¹¹ orders) AND
            # denominator n_a·n_b (~10²²) both wrap int64 at scale —
            # DECIMAL(38,0)/HUGEINT interior (the HITS-renorm class).
            # QUOTIENT bound (the silent-wrap guard — `div` coerces
            # to LONG and wraps past int64 with no error, NOTES
            # canon): lift ≤ N·10⁶/n_b ≤ N·10⁶/2 with the support
            # floor, exact in bigint to N ≈ 1.8·10¹³ orders — two
            # orders of magnitude past the 10¹¹-order 100 TB regime;
            # switch to the subtract-mod try_cast spelling
            # (text_collocations) if order counts ever approach that
            F.expr(
                f"cast(cast(n_ab as decimal(38,0)) * {n_orders}"
                f" * 1000000 div (cast(n_a as decimal(38,0)) * n_b)"
                f" as bigint)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "part_a", "part_b")
        .limit(_MB_TOPK)
    )


_MARKET_BASKET_ORACLE = f"""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    n AS (SELECT count(DISTINCT o)::BIGINT AS total FROM li),
    pairs AS (
        SELECT a.p AS part_a, b.p AS part_b, count(*)::BIGINT AS n_ab
        FROM li a JOIN li b USING (o) WHERE a.p < b.p
        GROUP BY a.p, b.p
        HAVING count(*) >= {_MB_MIN_CO}
    ),
    cnt AS (SELECT p, count(*)::BIGINT AS n FROM li GROUP BY p)
    SELECT p.part_a, p.part_b, p.n_ab, ca.n AS n_a, cb.n AS n_b,
           (p.n_ab * 1000000) // total AS support_ppm,
           (p.n_ab * 1000000) // ca.n AS conf_a_to_b_ppm,
           ((p.n_ab::HUGEINT * total * 1000000)
               // (ca.n::HUGEINT * cb.n))::BIGINT AS lift_ppm
    FROM pairs p
    JOIN cnt ca ON ca.p = p.part_a
    JOIN cnt cb ON cb.p = p.part_b, n
    ORDER BY lift_ppm DESC, p.part_a, p.part_b
    LIMIT {_MB_TOPK}
"""


_TRI_KNN = 6  # strongest co-purchase neighbors kept per node
_TRI_TOPK = 20


def graph_triangle_knn_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient
    over the TOP-K-SPARSIFIED co-purchase graph, top-20 parts by
    triangle participation.  Triangle density over the strongest-ties
    graph is the community-structure signal (tight cliques of parts
    bought together) that the raw co-occurrence graph drowns in hub
    noise.

    Sparsification contract (the documented cap): each node keeps its
    ``_TRI_KNN`` strongest co-purchase edges (co-order count desc,
    neighbor key asc — deterministic), then the graph is symmetrized
    (an edge survives if EITHER endpoint selected it) and
    deduplicated to canonical ``u < v`` pairs.  This is the standard
    k-NN-graph construction: the edge set is bounded by ``2K·|V|``
    REGARDLESS of corpus size, so triangle counting stays tractable at
    any scale — the raw graph's hubs would contribute combinatorially
    many wedges with no community signal.  Nodes in no triangle are
    absent from the output (count would be 0).

    Counting is the degree-oriented wedge algorithm (Suri &
    Vassilvitskii, WWW'11): orient every edge from the endpoint with
    smaller ``(degree, key)`` to the larger; enumerate wedges at each
    apex between ``(deg, key)``-ordered out-neighbor pairs; a wedge is
    a triangle iff the oriented closing edge exists (one 2-column
    equi-join probe).  Orientation bounds out-degree by O(√edges)
    worst-case (≤ the k-NN bound here), so the wedge frame never
    explodes on hubs.  Every triangle is found exactly once, at its
    smallest-(deg,key) corner.

    Exact arithmetic: counts are bigint; the clustering coefficient is
    ``2·tri·10⁶ div (deg·(deg−1))`` ppm with a deg<2 → 0 guard.

    Scale: the co-order weight groupBy map-side combines over the
    bounded (≤7 parts/order) self-join; the top-K window partitions by
    node; wedge generation and the closing probe are equi-joins on
    node keys of |V|·K-bounded frames; top-k is
    TakeOrderedAndProject.  Nothing is collected; no broadcast is
    assumed (at 10⁹ parts the k-NN frame is not broadcastable — AQE
    picks the strategy).
    """
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    weighted = (
        li.alias("a")
        .join(li.alias("b"), "o")
        .where(F.col("a.p") != F.col("b.p"))
        .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .agg(F.count("*").alias("w"))
    )
    knn = (
        weighted.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
            ),
        )
        .where(F.col("rn") <= _TRI_KNN)
        .select("src", "dst")
    )
    # |V|·K-bounded by construction — pin once; deg and the orientation
    # join both read it (same bounded-materialization class as the LSH
    # shingle frame, SCALE.md)
    und = materialize(
        knn.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    return (
        triangle_counts(und)
        .select(
            F.col("node").alias("part_key"),
            "tri_cnt",
            "deg",
            F.when(
                F.col("deg") >= 2,
                F.expr("(2 * tri_cnt * 1000000) div (deg * (deg - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("clustering_ppm"),
        )
        .orderBy(F.col("tri_cnt").desc(), "part_key")
        .limit(_TRI_TOPK)
    )


def triangle_counts(und: DataFrame) -> DataFrame:
    """Degree-oriented exact triangle counting core over a canonical
    undirected edge frame (u, v) with ``u < v`` and no duplicates.
    Returns (node, tri_cnt, deg) for every node in ≥1 triangle —
    shared by the query and the hand-built fixture tests."""
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    with_degs = (
        und.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # referenced three times below (both wedge legs + the closing
    # probe) — pin so the construction isn't replayed per reference
    oriented = materialize(
        with_degs.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.a") == F.col("e2.a"))
        & (
            (F.col("e1.db") < F.col("e2.db"))
            | ((F.col("e1.db") == F.col("e2.db")) & (F.col("e1.b") < F.col("e2.b")))
        ),
    ).select(
        F.col("e1.a").alias("t1"), F.col("e1.b").alias("t2"), F.col("e2.b").alias("t3")
    )
    tris = wedges.join(
        oriented.select(F.col("a").alias("t2"), F.col("b").alias("t3")),
        ["t2", "t3"],
    )
    per_node = (
        tris.select(F.explode(F.array("t1", "t2", "t3")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri_cnt"))
    )
    return per_node.join(deg, "node")


_TRIANGLE_ORACLE = f"""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    weighted AS MATERIALIZED (
        SELECT a.p AS src, b.p AS dst, count(*)::BIGINT AS w
        FROM li a JOIN li b USING (o) WHERE a.p <> b.p
        GROUP BY a.p, b.p
    ),
    knn AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (
                       PARTITION BY src ORDER BY w DESC, dst) AS rn
            FROM weighted)
        WHERE rn <= {_TRI_KNN}
    ),
    und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM knn
    ),
    deg AS MATERIALIZED (
        SELECT node, count(*)::BIGINT AS deg FROM (
            SELECT u AS node FROM und
            UNION ALL SELECT v AS node FROM und)
        GROUP BY node
    ),
    oriented AS MATERIALIZED (
        SELECT CASE WHEN du.deg < dv.deg
                      OR (du.deg = dv.deg AND e.u < e.v)
                    THEN e.u ELSE e.v END AS a,
               CASE WHEN du.deg < dv.deg
                      OR (du.deg = dv.deg AND e.u < e.v)
                    THEN e.v ELSE e.u END AS b,
               CASE WHEN du.deg < dv.deg
                      OR (du.deg = dv.deg AND e.u < e.v)
                    THEN dv.deg ELSE du.deg END AS db
        FROM und e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    tris AS MATERIALIZED (
        SELECT e1.a AS t1, e1.b AS t2, e2.b AS t3
        FROM oriented e1
        JOIN oriented e2 ON e1.a = e2.a
             AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))
        JOIN oriented c ON c.a = e1.b AND c.b = e2.b
    ),
    per_node AS (
        SELECT node, count(*)::BIGINT AS tri_cnt FROM (
            SELECT t1 AS node FROM tris
            UNION ALL SELECT t2 FROM tris
            UNION ALL SELECT t3 FROM tris)
        GROUP BY node
    )
    SELECT p.node AS part_key, p.tri_cnt, d.deg,
           CASE WHEN d.deg >= 2
                THEN (2 * p.tri_cnt * 1000000) // (d.deg * (d.deg - 1))
                ELSE 0 END::BIGINT AS clustering_ppm
    FROM per_node p JOIN deg d ON d.node = p.node
    ORDER BY p.tri_cnt DESC, part_key
    LIMIT {_TRI_TOPK}
"""


_HITS_SCALE = 1_000_000  # per-half-step max-abs renormalization target
_HITS_ITERS = 3
_HITS_TOPK = 20


def graph_hits_order_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the BIPARTITE
    order→part graph — the second classic link-analysis algorithm next
    to PageRank, and a structurally different one: TWO mutually
    recursive score vectors on a bipartite structure (hub orders
    endorse authority parts; authoritative parts make their orders
    hubbier), where PageRank is one vector on a homogeneous graph.
    Output: the top-20 AUTHORITY parts with their order-degree — the
    "endorsed by the broadest baskets" prior, complementary to
    PageRank's co-occurrence centrality.

    Integer recurrence (the linalg power-iteration renorm discipline —
    HITS *is* power iteration on AᵀA, which is why the same trick
    lands): a₀ = SCALE for every part; each iteration computes the RAW
    hub sum h = Σ_{p∈o} a(p) (no mid-iteration renorm: with a ≤ SCALE
    always, h is bounded by basket_size·SCALE — baskets are small
    constants in any retail schema, ≤ 7 here), then
    a = renorm(Σ_{o∋p} h(o)) — ONE max-abs truncating renormalization
    per iteration (normalization placement is a free choice in HITS).
    Headroom: a_raw ≤ deg_p·basket·SCALE ≈ 10¹⁷ at 10⁹-order part
    degrees fits bigint, but the renorm NUMERATOR a_raw·SCALE ≈ 10²³
    does not — so the renorm interior runs in DECIMAL(38,0)/HUGEINT
    (headroom to 10³⁸; past ~10³² part degrees, pre-divide a_raw);
    the quotient ≤ SCALE lands back in bigint exactly.  The
    unrolled-CTE DuckDB oracle replays the same recurrence to the
    digit.  Measured levers at
    sf0.1: once-per-iteration renorm + pre-partitioning the edge
    frame by the order key (shuffle-free hub pass) took the loop
    3.6 → 2.4 s warm.

    Scale: the distinct (order, part) edge frame is checkpointed ONCE;
    the part-side score frame (dimension-bounded, the pagerank
    |parts|-frame argument) broadcasts into the hub pass — VALID up to
    ~10⁸ parts (a 16-byte-row score frame ≈ 1.6 GB at 10⁸; past that
    the broadcast dies and the one-line alternative is to drop the
    F.broadcast()/coalesce(1) wrappers so the hub pass becomes a
    part-keyed co-partitioned shuffle join, one extra exchange per
    iteration) — while the ORDER-side hub frame — corpus-grain, NOT
    broadcastable at 100 TB at ANY dimension size — is consumed ONCE
    by the a-update equi-join (no checkpoint, no second pass),
    co-partitioned with the edge frame; both reductions combine
    map-side.  The per-iteration max-abs is a 1-row broadcast.
    """
    edges = materialize(
        load_table(spark, "lineitem", sf_dir)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        # pre-partition ONCE by the order key: localCheckpoint preserves
        # the hash partitioning, so every iteration's hub groupBy("o")
        # AND the h⋈edges equi-join run shuffle-free — the only
        # per-iteration exchange left is the unavoidable part-keyed
        # message reduce
        .repartition("o")
    )
    pdeg = materialize(
        edges.groupBy("p")
        .agg(F.count("*").alias("n_orders"))
        .coalesce(1)
    )
    a = pdeg.select("p", F.lit(_HITS_SCALE).alias("a"))

    def _renorm(df: DataFrame, col: str) -> DataFrame:
        m = df.agg(F.max(F.abs(F.col(col))).alias("m"))
        return df.crossJoin(F.broadcast(m)).select(
            *[c for c in df.columns if c != col],
            # the renorm NUMERATOR a_raw·SCALE is the overflow point:
            # a_raw ≤ deg_p·basket·SCALE ≈ 10¹⁷ at 10⁹-order part
            # degrees, so ×10⁶ exceeds int64 — under this engine's
            # ANSI default the narrow multiply raises
            # ARITHMETIC_OVERFLOW loudly (and the DuckDB oracle's
            # BIGINT multiply errors too), killing the query — run
            # the interior in DECIMAL(38,0)/HUGEINT (the skew_x1000 /
            # CH-index discipline); the QUOTIENT is ≤ SCALE by
            # construction (a ≤ m), so the bigint output is exact
            F.expr(
                f"case when m = 0 then 0L"
                f" else cast(cast({col} as decimal(38,0))"
                f" * {_HITS_SCALE} div m as bigint) end"
            ).alias(col),
        )

    for _ in range(_HITS_ITERS):
        h = (
            edges.join(F.broadcast(a.coalesce(1)), "p")
            .groupBy("o")
            .agg(F.sum("a").alias("h"))
        )
        # checkpoint the RAW part sums (one materialization per
        # iteration — the only corpus-pass job); the renorm is a lazy
        # select over the checkpointed |parts|-row frame, so its
        # double evaluation (max agg + projection) costs two trivial
        # single-partition reads, not two edge passes
        araw = materialize(
            edges.join(h, "o")
            .groupBy("p")
            .agg(F.sum("h").alias("a"))
            .coalesce(1)
        )
        a = _renorm(araw, "a")
    return (
        a.join(F.broadcast(pdeg), "p")
        .select(
            F.col("p").alias("part_key"),
            F.col("a").alias("authority_scaled"),
            "n_orders",
        )
        .orderBy(F.desc("authority_scaled"), F.asc("part_key"))
        .limit(_HITS_TOPK)
    )


def _hits_oracle() -> str:
    parts = [
        f"""
        WITH e AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        pdeg AS MATERIALIZED (
            SELECT p, count(*)::BIGINT AS n_orders FROM e GROUP BY p
        ),
        a0 AS MATERIALIZED (
            SELECT p, {_HITS_SCALE}::BIGINT AS a FROM pdeg
        )"""
    ]
    for i in range(1, _HITS_ITERS + 1):
        parts.append(
            f""",
        h{i} AS MATERIALIZED (
            SELECT e.o, sum(a.a)::BIGINT AS h
            FROM e JOIN a{i - 1} a USING (p) GROUP BY e.o
        ),
        araw{i} AS MATERIALIZED (
            SELECT e.p, sum(h.h)::BIGINT AS a
            FROM e JOIN h{i} h USING (o) GROUP BY e.p
        ),
        a{i} AS MATERIALIZED (
            SELECT p, CASE WHEN m = 0 THEN 0::BIGINT
                           ELSE ((a::HUGEINT * {_HITS_SCALE}) // m)::BIGINT
                           END AS a
            FROM araw{i}, (SELECT max(abs(a))::BIGINT AS m FROM araw{i})
        )"""
        )
    parts.append(
        f"""
        SELECT a.p AS part_key, a.a AS authority_scaled, d.n_orders
        FROM a{_HITS_ITERS} a JOIN pdeg d USING (p)
        ORDER BY a.a DESC, a.p ASC
        LIMIT {_HITS_TOPK}
        """
    )
    return "".join(parts)


QUERIES = {
    "graph_pagerank_copurchase": graph_pagerank_copurchase,
    "orders_market_basket_lift": orders_market_basket_lift,
    "graph_triangle_knn_copurchase": graph_triangle_knn_copurchase,
    "graph_hits_order_part": graph_hits_order_part,
}

ORACLES = {
    "graph_pagerank_copurchase": _pagerank_oracle(),
    "orders_market_basket_lift": _MARKET_BASKET_ORACLE,
    "graph_triangle_knn_copurchase": _TRIANGLE_ORACLE,
    "graph_hits_order_part": _hits_oracle(),
}
