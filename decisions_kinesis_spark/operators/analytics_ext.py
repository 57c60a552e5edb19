"""Second-wave analytic extensions: the monitoring / behavioral /
warehouse-modeling operator families beyond the first-wave suites.

Four groups, all first-class oracled queries:

- ROBUST STATS & MONITORING — ``events_winsorized_stats`` (p1/p99
  clipped moments, next to windows_ext's MAD), ``events_ewma_hourly``
  (α=½ sequential-fold smoothing), ``events_cusum_change`` (level-
  shift alarm via the drawup identity), ``events_hourly_trend_ols``
  (exact-integer least-squares slope + r²),
  ``events_seasonal_profile_anomalies`` (hour-of-day baseline breaks).
- BEHAVIORAL ANALYTICS — ``events_markov_transitions`` (first-order
  next-action chain), ``events_top_paths`` (3-step sequence mining),
  ``events_dau_wau_stickiness`` (DAU/WAU/MAU via bounded explode),
  ``customer_rfm_segments`` (tercile-scored RFM 27-cell table).
- WAREHOUSE MODELING — ``orders_pareto_abc`` (cumulative-share ABC
  cuts on the distributed prefix-sum pattern,
  ``functions/ordering.range_prefix``), ``orders_scd2_ship_history``
  (SCD type-2 validity intervals), ``orders_open_backlog_daily``
  (interval sweep-line).
- INTEGRITY — ``audit_fk_orphans`` (anti-join orphan counts for every
  schema FK relationship).

Determinism contract shared by all of them: quantile interpolations
are bitwise-identical between the engines (the established
``percentile``/``quantile_cont`` contract); money and measures pass
through per-row ×10⁴ integer quantization so sums, cumulative sums,
shares, and regression moments are exact integers (DECIMAL(38,0)
where products outgrow bigint); sequential folds execute the same
IEEE op sequence in both engines; double outputs are floor-rounded
at 4dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from decisions_kinesis_spark.functions.ordering import range_prefix
from decisions_kinesis_spark.functions.parallel import materialize
from decisions_kinesis_spark.operators.corpus import _NOVELTY_BUCKET
from decisions_kinesis_spark.operators.textops import _BIGHASH, _DUCK_BIGHASH
from decisions_kinesis_spark.functions.rounding import fl4
from decisions_kinesis_spark.sources.tables import load_table

#: Shared x10^4 money quantization for o_totalprice (one spelling per
#: engine -- six call sites; editing one without the others silently
#: desynchronizes a query from its oracle).
_MONEY_X10000 = "cast(floor(o_totalprice * 10000 + 0.5) as bigint)"
_DUCK_MONEY_X10000 = "floor(o_totalprice * 10000 + 0.5)::BIGINT"


def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (1%/99%-clipped) statistics per event_type: the
    clipping bounds, how many observations each tail clamps, and the
    winsorized mean — the robust location estimate monitoring uses
    when raw means chase heavy tails.

    Determinism: p01/p99 use the identical continuous-quantile
    interpolation in both engines and all comparisons run on the
    UNROUNDED doubles; the clamped values are per-row quantized to
    DECIMAL(18,4) before summing (exact, order-free) and the single
    double division is floor-rounded at output (the MAD/gapfill
    contract).

    Scale: one exact-percentile reduction per type (|types| groups)
    with the tiny bounds frame broadcast back; the clamp + count +
    sum pass is ONE map-side-combining aggregation.
    """
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, cast(1 as double)/100)").alias("p01"),
        F.expr("percentile(value, cast(99 as double)/100)").alias("p99"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .withColumn(
            "w", F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
        )
        .groupBy("event_type")
        .agg(
            F.first("p01").alias("p01_raw"),
            F.first("p99").alias("p99_raw"),
            F.count("*").alias("n"),
            F.count(F.when(F.col("value") < F.col("p01"), 1)).alias(
                "n_clip_low"
            ),
            F.count(F.when(F.col("value") > F.col("p99"), 1)).alias(
                "n_clip_high"
            ),
            F.sum(F.col("w").cast("decimal(18,4)")).alias("wsum"),
        )
        .select(
            "event_type",
            fl4(F.col("p01_raw")).alias("p01"),
            fl4(F.col("p99_raw")).alias("p99"),
            "n",
            "n_clip_low",
            "n_clip_high",
            fl4(F.col("wsum").cast("double") / F.col("n")).alias("win_mean"),
        )
    )


_ABC_PARTS = 16  # range partitions for the distributed prefix sum


def orders_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification of parts by discounted revenue: parts
    covering the first 80% of cumulative revenue are class A, to 95%
    class B, the long tail C — with each part's exact cumulative share
    in ppm.  The classic inventory-skew report, and the shape any
    "which sources give 80% of my tokens" corpus question takes.

    Exactness: per-row revenue is quantized to bigint once
    (``floor(price·(1−disc)·10⁴ + 0.5)``); every aggregate and the
    cumulative sum stay integer from there, so the 80/95 threshold
    comparisons (``cum·100 ≤ 80·total``) never touch a float in
    either engine.  Per-PART revenue fits bigint at any realistic
    scale, but the corpus-wide cumulative total does not (×10⁴-scaled
    revenue passes 9.2·10¹⁸ around SF 50k ≈ 50 TB), so ``cum``/
    ``total`` and everything derived from them run as DECIMAL(38,0)
    in Spark — DuckDB's BIGINT sums already widen to INT128 natively.

    Scale: revenue aggregates map-side to |parts| rows; the global
    cumulative sum uses the distributed prefix-sum pattern — range-
    repartition on the (rev desc, part) total order, localCheckpoint
    to pin the partitioner's sampling (the layout lesson), collect the
    ≤|partitions| per-partition subtotals, and add each partition's
    starting offset to its within-partition running sum — a
    partitioned window, never a single-partition WindowExec, so the
    plan holds for arbitrarily large dimension tables.
    """
    rev = (
        load_table(spark, "lineitem", sf_dir)
        .select(
            F.col("l_partkey").alias("part_key"),
            F.expr(
                "cast(floor(l_extendedprice * (1.0 - l_discount) * 10000"
                " + 0.5) as bigint)"
            ).alias("r"),
        )
        .groupBy("part_key")
        .agg(F.sum("r").alias("rev_scaled"))
    )
    part, off_df, _rows, total = range_prefix(
        rev,
        [F.col("rev_scaled").desc(), F.col("part_key")],
        _ABC_PARTS,
        sum_col="rev_scaled",
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.col("rev_scaled").desc(), F.col("part_key"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = f"cast('{total}' as decimal(38,0))"
    return (
        part.join(F.broadcast(off_df), "_pid")
        .withColumn(
            "cum",
            F.sum(F.col("rev_scaled").cast("decimal(38,0)")).over(w)
            + F.col("_sum_off"),
        )
        .select(
            "part_key",
            "rev_scaled",
            F.expr(f"(cum * 1000000) div {tot}").alias("cum_ppm"),
            F.expr(
                f"case when cum * 100 <= 80 * {tot} then 'A' "
                f"when cum * 100 <= 95 * {tot} then 'B' "
                "else 'C' end"
            ).alias("abc_class"),
        )
    )


def _hourly_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, b, n, sdec): per event type and hour bucket ``b``,
    the row count and the exact DECIMAL(18,4) sum of ``value`` — the
    map-side-combining head of every hourly-series query."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("b"), "value"
    )
    return ev.groupBy("event_type", "b").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sdec"),
    )


def _hourly_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_hourly_sums`` plus ``mean``: the exact sum divided once, so
    both engines produce the identical double."""
    return _hourly_sums(spark, sf_dir).withColumn(
        "mean", F.expr("cast(sdec as double) / n")
    )


def _mean_series(means: DataFrame) -> DataFrame:
    """(event_type, n_buckets, xs): each type's hourly means as one
    bucket-ordered array, the input of the sequential smoothing folds."""
    return means.groupBy("event_type").agg(
        F.count("*").alias("n_buckets"),
        F.expr(
            "transform(array_sort(collect_list(struct(b, mean))),"
            " s -> s.mean)"
        ).alias("xs"),
    )


def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = 1/2) over each event
    type's HOURLY mean series — the time-series smoothing shape every
    monitoring stack runs over its rollups.  Output per type: bucket
    count, the last raw hourly mean, and the final smoothed level.

    Determinism: hourly means are exact-decimal sums divided once
    (both engines produce the identical double); the EWMA is a
    SEQUENTIAL left fold ``acc ← (acc + x)/2`` over the bucket-ordered
    series — Spark's ``aggregate`` and DuckDB's ``list_reduce``
    execute the same IEEE op sequence in the same order, so the
    result matches bitwise with no tolerance (the
    ``tokenize_bpe_greedy`` fold-oracle pattern, on doubles).

    Scale: the fold runs over the per-TYPE rollup series (|buckets|
    elements, thousands at most — rollups are bounded by the calendar,
    not the data), not raw events; the heavy lifting is the hourly
    aggregation, which map-side combines.  α = 1/2 keeps every
    intermediate a clean dyadic operation.
    """
    series = _mean_series(_hourly_means(spark, sf_dir))
    return series.select(
        "event_type",
        "n_buckets",
        fl4(F.expr("element_at(xs, -1)")).alias("last_mean"),
        fl4(
            F.expr(
                "aggregate(xs, cast(null as double),"
                " (acc, x) -> if(acc is null, x, (acc + x) / 2.0))"
            )
        ).alias("ewma_level"),
    )


def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt DOUBLE-exponential smoothing (α = β = ½) over each event
    type's hourly mean series — the level+trend extension of
    ``events_ewma_hourly`` that a drifting signal needs (single
    smoothing lags a trending series forever; Holt tracks it), plus
    the one-step-ahead forecast every capacity monitor reads.

    Determinism: the same contract as the EWMA fold — exact-decimal
    hourly means divided once, then a SEQUENTIAL left fold with a
    (level, trend) struct accumulator: seed (x₀, 0); step
    ``l' = (x + l + t)/2;  t' = (t + (l' − l))/2``.  Spark runs it as
    a null-seeded ``aggregate``; the DuckDB oracle replays the SAME
    recursion step with a RECURSIVE CTE — NOT ``list_reduce``, whose
    struct-accumulator form is not referentially transparent in
    DuckDB 1.0 (see the NOTE at the oracle) — so both engines execute
    the identical IEEE op sequence in the identical order: bitwise
    equality, no tolerance; α = β = ½ keeps every step dyadic.
    NULL-mean buckets (an hour whose every value is NULL) are SKIPPED
    on both sides before the fold — otherwise Spark's null-seed
    sentinel would silently RE-seed mid-series while the oracle's
    recursion propagates NULL (disjoint failure modes for the same
    input).

    Scale: the fold runs over the per-type ROLLUP series (calendar-
    bounded, thousands of elements at most), never raw events; the
    hourly aggregation map-side combines.
    """
    series = _mean_series(
        _hourly_means(spark, sf_dir).where(F.col("mean").isNotNull())
    )
    fold = (
        "aggregate(xs,"
        " named_struct('l', cast(null as double),"
        "              't', cast(0.0 as double)),"
        " (acc, x) -> if(acc.l is null,"
        "   named_struct('l', x, 't', cast(0.0 as double)),"
        "   named_struct("
        "     'l', (x + acc.l + acc.t) / 2.0,"
        "     't', (acc.t + ((x + acc.l + acc.t) / 2.0 - acc.l)) / 2.0)))"
    )
    return series.withColumn("hs", F.expr(fold)).select(
        "event_type",
        "n_buckets",
        fl4(F.col("hs.l")).alias("holt_level"),
        fl4(F.col("hs.t")).alias("holt_trend"),
        fl4(F.expr("hs.l + hs.t")).alias("forecast_next"),
    )


_CONF_PCT_NUM = 9  # split-conformal coverage 90% = 9/10 as a rational
_CONF_PCT_DEN = 10


def events_holt_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL (online-style) conformal prediction interval around
    the Holt forecast — the distribution-free error bar in the spirit
    of split conformal (Vovk et al.; Angelopoulos & Bates 2023
    tutorial): run the Holt fold over each type's hourly series, score
    every one-step-ahead forecast against the actual
    (|x_j − (l_{j−1}+t_{j−1})|), and take the conformal quantile
    ``k = ⌈0.9·(m+1)⌉`` of the m absolute residuals.  HONEST CAVEAT:
    the residuals are in-sample sequential errors from the same series
    the fold fits — there is no held-out calibration split, so the
    finite-sample split-conformal coverage theorem does not strictly
    apply; the interval is the standard online/sequential conformal
    heuristic (asymptotically calibrated when residuals are
    exchangeable), still assumption-light versus the Gaussian bands a
    naive monitor draws.  For the strict guarantee, compute q over a
    held-out suffix of residuals only.

    Determinism: the level/trend fold is the ``events_holt_linear``
    dyadic IEEE sequence (bitwise cross-engine — proof #9 established
    that the pure-Python replay matches too, which is what licenses
    the grouped-Arrow fold here); residuals are quantized
    ``floor(|r|·10⁴ + 0.5)`` bigints, the conformal rank is the exact
    integer ``min(⌈9(m+1)/10⌉, m)``, and the k-th order statistic is
    an exact selection.  m = 0 (single-bucket series) → NULL interval,
    not a crash.

    Scale: the sequential fold is confined to the calendar-bounded
    per-type rollup series (the ``_km_fold_curve`` argument: a
    truncating/sequential recurrence has no exact parallel
    decomposition, so one O(series) Python scan per type, types in
    parallel, is the honest minimum); the hourly aggregation map-side
    combines, and nothing corpus-sized reaches Python.
    """
    import math as _math

    import pandas as pd

    pts = (
        _hourly_means(spark, sf_dir)
        .where(F.col("mean").isNotNull())
        .select("event_type", "b", "mean")
    )

    def _fl4(v: float) -> float:
        return _math.floor(v * 10000 + 0.5) / 10000.0

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("b")
        xs = [float(x) for x in pdf["mean"]]
        etype = pdf["event_type"].iloc[0]
        l, t = xs[0], 0.0
        res = []
        for x in xs[1:]:
            f = l + t
            res.append(int(_math.floor(abs(x - f) * 10000 + 0.5)))
            ln = (x + l + t) / 2.0
            t = (t + (ln - l)) / 2.0
            l = ln
        fc = l + t
        m = len(res)
        if m == 0:
            q, lo, hi = None, None, None
        else:
            k = min(
                (_CONF_PCT_NUM * (m + 1) + _CONF_PCT_DEN - 1)
                // _CONF_PCT_DEN,
                m,
            )
            q = sorted(res)[k - 1]
            lo = _fl4(fc - q / 10000.0)
            hi = _fl4(fc + q / 10000.0)
        return pd.DataFrame(
            [
                {
                    "event_type": etype,
                    "n_buckets": len(xs),
                    "forecast_next": _fl4(fc),
                    "resid_q90_x10000": q,
                    "conf_lo": lo,
                    "conf_hi": hi,
                }
            ]
        )

    return pts.groupBy("event_type").applyInPandas(
        fold,
        "event_type string, n_buckets bigint, forecast_next double,"
        " resid_q90_x10000 bigint, conf_lo double, conf_hi double",
    )


_HW_M = 24  # season length (hourly series, daily cycle)


def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT–WINTERS additive triple-exponential smoothing
    (α = β = γ = ½, season length 24) over each event type's hourly
    mean series — the seasonal completion of the smoothing family
    (EWMA → Holt level+trend → THIS), the forecast shape a daily-cycle
    capacity monitor actually needs: next-hour forecast =
    level + trend + the hour's seasonal component.

    Determinism (the ``events_holt_linear`` contract, extended with a
    seasonal VECTOR in the accumulator): exact-decimal hourly means
    divided once; then a SEQUENTIAL fold with state (l, t, s[24], j) —
    seed (x₀, 0, zeros, 1); step at series position j (seasonal slot
    j mod 24, position-based per the textbook recurrence — calendar
    alignment is not assumed for gappy series):
    ``l' = (x − s[slot] + l + t)/2;  t' = (t + (l' − l))/2;
    s'[slot] = (s[slot] + (x − l'))/2`` — every coefficient dyadic, so
    both engines run the identical IEEE sequence in the identical
    order: bitwise equality, no tolerance.  Simple zero seasonal init
    (decays geometrically; documented instead of hidden).  NULL-mean
    buckets are skipped on both sides (the Holt lesson).  Output adds
    the seasonal AMPLITUDE (max − min of the final seasonal vector) —
    the "does this signal even have a daily cycle" readout.

    Scale: the fold runs over the per-type calendar-bounded rollup
    series with an m-element array rebuilt per step (m·|series| ops,
    thousands); the hourly aggregation map-side combines.  The DuckDB
    oracle replays the recursion with a RECURSIVE CTE carrying the
    seasonal LIST (indexed-lambda update — DuckDB lists are 1-based
    where Spark's transform index is 0-based; each dialect spells its
    own offset).
    """
    series = _mean_series(
        _hourly_means(spark, sf_dir).where(F.col("mean").isNotNull())
    )
    lp = (
        f"(x - element_at(acc.s, (acc.j % {_HW_M}) + 1) + acc.l + acc.t)"
        f" / 2.0"
    )
    fold = (
        "aggregate(xs,"
        " named_struct('l', cast(null as double),"
        "              't', cast(0.0 as double),"
        f"             's', array_repeat(cast(0.0 as double), {_HW_M}),"
        "              'j', 0),"
        " (acc, x) -> if(acc.l is null,"
        "   named_struct('l', x, 't', cast(0.0 as double),"
        "                's', acc.s, 'j', 1),"
        "   named_struct("
        f"    'l', {lp},"
        f"    't', (acc.t + ({lp} - acc.l)) / 2.0,"
        f"    's', transform(acc.s, (v, i) -> if(i = acc.j % {_HW_M},"
        f"           (v + (x - {lp})) / 2.0, v)),"
        "     'j', acc.j + 1)))"
    )
    return series.withColumn("hw", F.expr(fold)).select(
        "event_type",
        "n_buckets",
        fl4(F.col("hw.l")).alias("hw_level"),
        fl4(F.col("hw.t")).alias("hw_trend"),
        fl4(
            F.expr("array_max(hw.s) - array_min(hw.s)")
        ).alias("hw_season_amp"),
        fl4(
            F.expr(
                f"hw.l + hw.t"
                f" + element_at(hw.s, cast(n_buckets % {_HW_M} as int)"
                f"              + 1)"
            )
        ).alias("forecast_next"),
    )


def audit_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every FK relationship in the
    schema: child rows whose foreign key has no parent — the
    constraint check a lakehouse runs before promoting a snapshot
    (plain parquet enforces nothing).  One row per relationship:
    child row count and orphan count.

    Scale: each check is a LEFT ANTI join counted to one row.  Parent
    key sets for dimension-sized parents (region, nation, supplier,
    part, customer) broadcast; the one fact-to-fact check
    (lineitem→orders) is a shuffled anti join on the natural join key
    — the same co-partitioning the q-series joins already pay.  The
    seven 1-row results union into a constant-size report.
    """

    def check(name: str, child: DataFrame, ck: str, parent: DataFrame, pk: str, bcast: bool) -> DataFrame:
        p = parent.select(F.col(pk).alias(ck)).distinct()
        if bcast:
            p = F.broadcast(p)
        orphans = child.select(ck).join(p, ck, "left_anti")
        return child.agg(
            F.lit(name).alias("relationship"),
            F.count("*").alias("n_child"),
        ).crossJoin(orphans.agg(F.count("*").alias("n_orphans")))

    t = {n: load_table(spark, n, sf_dir) for n in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem",
    )}
    checks = [
        check("orders.custkey->customer", t["orders"], "o_custkey",
              t["customer"], "c_custkey", True),
        check("lineitem.orderkey->orders", t["lineitem"], "l_orderkey",
              t["orders"], "o_orderkey", False),
        check("lineitem.partkey->part", t["lineitem"], "l_partkey",
              t["part"], "p_partkey", True),
        check("lineitem.suppkey->supplier", t["lineitem"], "l_suppkey",
              t["supplier"], "s_suppkey", True),
        check("customer.nationkey->nation", t["customer"], "c_nationkey",
              t["nation"], "n_nationkey", True),
        check("supplier.nationkey->nation", t["supplier"], "s_nationkey",
              t["nation"], "n_nationkey", True),
        check("nation.regionkey->region", t["nation"], "n_regionkey",
              t["region"], "r_regionkey", True),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since their last
    order, against the corpus-wide latest order date), Frequency
    (order count), Monetary (lifetime revenue, ×10⁴-quantized exact);
    each dimension scored 1-3 by its cross-customer tercile cuts, then
    the 27-cell segment table with customer counts and average
    lifetime value — the marketing-analytics standard.

    Determinism: R/F/M are exact integers; tercile thresholds use the
    shared continuous-quantile contract and comparisons run on the
    unrounded doubles; the segment average is one floor-rounded
    division.  Better scores are better customers: recency scores
    INVERT (smaller gap ⇒ 3).

    Scale: one map-side-combining aggregation to |customers| rows, a
    6-value threshold frame broadcast back, and a 27-key final
    reduce.
    """
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        "o_orderdate",
        F.expr(_MONEY_X10000).alias("rev"),
    )
    per = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_dt"),
        F.count("*").alias("freq"),
        F.sum("rev").alias("money"),
    )
    glob = per.agg(F.max("last_dt").alias("max_dt"))
    rfm = per.crossJoin(F.broadcast(glob)).select(
        "o_custkey",
        F.datediff("max_dt", "last_dt").alias("rec"),
        "freq",
        "money",
    )
    cuts = rfm.agg(
        *[
            F.expr(f"percentile({c}, cast({k} as double)/3)").alias(
                f"{c}{k}"
            )
            for c in ("rec", "freq", "money")
            for k in (1, 2)
        ]
    )
    score = lambda c, invert: (  # noqa: E731
        F.when(F.col(c) <= F.col(f"{c}1"), 3 if invert else 1)
        .when(F.col(c) <= F.col(f"{c}2"), 2)
        .otherwise(1 if invert else 3)
    )
    return (
        rfm.crossJoin(F.broadcast(cuts))
        .select(
            score("rec", True).alias("r_score"),
            score("freq", False).alias("f_score"),
            score("money", False).alias("m_score"),
            "money",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("money").alias("msum"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            fl4(
                F.col("msum").cast("double")
                / F.col("n_customers")
                / 10000.0
            ).alias("avg_lifetime_value"),
        )
    )


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral Markov chain: for each user's event
    sequence (ordered by ts, event_id), count event-type transitions
    and report P(next | prev) in exact ppm — the navigation-flow /
    next-action model behind funnel diagnostics.

    Determinism: the sequence order is total (ts ties broken by
    event_id); probabilities are integer floor divisions.

    Scale: ONE window pass partitioned by user (the sessionize
    shuffle), then a |types|²-key map-side-combining reduce — no
    joins; the per-prev totals come from a window over the tiny
    transition frame.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("prev_type"),
            F.col("next_type").alias("next_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return tr.withColumn("n_prev", F.sum("n").over(wp)).select(
        "prev_type",
        "next_type",
        "n",
        "n_prev",
        F.expr("(n * 1000000) div n_prev").alias("p_ppm"),
    )


_PATH_TOPK = 20


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining, the 3-step flavor: the most common
    event-type paths (a → b → c over consecutive events of one user),
    top-20 by frequency — the "what do users actually do" report that
    generalizes the Markov chain to higher order.

    Determinism: the per-user order is total (ts, event_id); the
    report ordering ties-break on the path string.

    Scale: the SAME single user-partitioned window pass as the Markov
    chain (two leads instead of one), a |types|³-bounded reduce, and a
    TakeOrderedAndProject top-k — no joins, no global sort.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("b", F.lead("event_type", 1).over(w))
        .withColumn("c", F.lead("event_type", 2).over(w))
        .where(F.col("c").isNotNull())
        .groupBy(
            F.concat_ws(
                ">", F.col("event_type"), F.col("b"), F.col("c")
            ).alias("path")
        )
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_PATH_TOPK)
    )


def events_cusum_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change detection over each event type's hourly count
    series: the one-sided cumulative sum ``s ← max(0, s + x − target −
    slack)`` with target = mean hourly count and 10% slack, reporting
    the final and maximum excursion and whether the standard h = 3·target
    decision threshold was breached — the drift alarm a streaming
    ingest pipeline evaluates per refresh.

    Determinism: counts, target (integer div), and every step are
    exact integers.  Instead of a sequential fold, both engines use
    the DRAWUP IDENTITY ``sₖ = Pₖ − min(0, min_{j≤k} Pⱼ)`` (P = raw
    prefix sum of the deviations) — the recursive clip-at-zero
    recurrence becomes pure window algebra, which also sidesteps a
    DuckDB 1.0 ``list_reduce`` hazard where a struct accumulator's
    second field evaluates against the first field's ALREADY-UPDATED
    value (observed: max tracked s+x instead of s).

    Scale: two window passes over the per-type ROLLUP series
    (calendar-bounded, partitioned by type), after one map-side-
    combining hourly count; targets broadcast back from a |types|-row
    aggregate.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("b")
    )
    hourly = ev.groupBy("event_type", "b").agg(F.count("*").alias("n"))
    tgt = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_buckets"),
        F.expr("sum(n) div count(*)").alias("tgt"),
    )
    run = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = (
        hourly.join(F.broadcast(tgt), "event_type")
        .withColumn("d", F.expr("n - tgt - (tgt div 10)"))
        .withColumn("p", F.sum("d").over(run))
        .withColumn(
            "s",
            F.col("p") - F.least(F.lit(0).cast("bigint"), F.min("p").over(run)),
        )
    )
    return (
        dev.groupBy("event_type")
        .agg(
            F.first("n_buckets").alias("n_buckets"),
            F.first("tgt").alias("tgt"),
            F.expr("max_by(s, b)").alias("final_cusum"),
            F.max("s").alias("max_cusum"),
        )
        .withColumn("breached", F.col("max_cusum") >= 3 * F.col("tgt"))
    )


def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-engagement report: per observed day, DAU, trailing-7-day
    WAU, trailing-28-day MAU, and the DAU/WAU stickiness ratio in
    exact ppm — the dashboard triple every consumer product tracks.

    Shape: dedup events to (user, active day) pairs once, then explode
    each pair into the 28 future days it keeps the user "active" for,
    reduce to per-(user, day) MINIMUM lag, and count lags < 7 / < 28
    per day — one distinct, one bounded ×28 explode, two
    map-side-combining reduces; no self-joins, no per-day rescans.
    Output days are restricted to days with actual activity (inner
    join with the DAU frame).

    Scale: |user × day| pairs are orders of magnitude below |events|;
    the 28× explode is the trade for turning a sliding distinct-count
    into hash aggregation — the standard scalable shape (a 100 TB
    events table still yields a tiny pair frame).
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.to_date(F.col("ts")).alias("day")
    )
    active = ev.distinct()
    dau = active.groupBy("day").agg(F.count("*").alias("dau"))
    lag = (
        active.select(
            "user_id", "day", F.explode(F.expr("sequence(0, 27)")).alias("i")
        )
        .select(
            "user_id", F.expr("date_add(day, i)").alias("day"), "i"
        )
        .groupBy("user_id", "day")
        .agg(F.min("i").alias("mi"))
    )
    spans = lag.groupBy("day").agg(
        F.count(F.when(F.col("mi") < 7, 1)).alias("wau7"),
        F.count("*").alias("mau28"),
    )
    return (
        dau.join(spans, "day")
        .select(
            "day",
            "dau",
            "wau7",
            "mau28",
            F.expr("(dau * 1000000) div wau7").alias("stickiness_ppm"),
        )
    )


_KM_CENSOR_DAYS = 60  # observation cutoff: max ship date minus this

_KM_OUT_COLS = ["t_days", "n_at_risk", "n_events", "n_censored",
                "surv_ppm"]


def _km_fold_curve(days: DataFrame, keys: list[str]) -> DataFrame:
    """Shared product-limit fold over a per-stratum (t_days, d, c) day
    table, as a grouped Arrow map (``applyInPandas`` — one Python call
    per stratum, strata fold in PARALLEL).

    This replaced the earlier SQL ``aggregate(array_sort(collect_list(
    ...)), ..., array_append(...))`` fold: array_append copies the
    accumulated array at EVERY step, so a ~4000-day stratum paid an
    O(days²) interpreted-lambda scan — measured 2.8 s for the 5-stratum
    query at sf0.1 vs 0.87 s for this shape, bit-identical output.
    The recurrence ``surv ← surv·(n−d) div n`` is truncating at every
    step, so it has no exact parallel/window decomposition — a
    sequential scan per stratum is the honest minimum, and Python
    arbitrary-precision ints make it exact at ANY study size (the SQL
    fold's bigint bound disappears).  ``//`` equals Spark's ``div``
    here because every operand is non-negative.

    Scale: the day axis is calendar-bounded (max lead time), so each
    group is O(days) rows regardless of order count; the groupBy
    shuffles the bounded day table only, never the study frame.
    """
    import pandas as pd

    kschema = {f.name: f.dataType.simpleString() for f in days.schema.fields}
    out_schema = ", ".join(
        [f"{k} {kschema[k]}" for k in keys]
        + [f"{c} bigint" for c in _KM_OUT_COLS]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t_days")
        head = tuple(pdf[k].iloc[0] for k in keys)
        nrem = int(pdf["d"].sum() + pdf["c"].sum())
        surv = 1_000_000
        out = []
        for t, d, c in zip(pdf["t_days"], pdf["d"], pdf["c"]):
            t, d, c = int(t), int(d), int(c)
            if d > 0:
                surv = surv * (nrem - d) // nrem
            out.append(head + (t, nrem, d, c, surv))
            nrem -= d + c
        return pd.DataFrame(out, columns=keys + _KM_OUT_COLS)

    if keys:
        grouped = days.groupBy(*keys)
    else:
        # a bare lit(1) inside groupBy parses as a GROUP BY ordinal —
        # materialize the constant as a column for the single-group case
        grouped = days.withColumn("_g", F.lit(1)).groupBy("_g")
    return grouped.applyInPandas(fold, out_schema)


def _km_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared KM study frame: per in-study order its
    (priority, t_days, is_event) under the censoring contract — the
    observation window closes ``_KM_CENSOR_DAYS`` before the corpus'
    max ship date; first-ship after the cutoff ⇒ censored at
    (cutoff − orderdate); placed after the cutoff ⇒ out of the study.
    Per-order first-ship collapses lineitem map-side; the cutoff is a
    broadcast scalar."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_shipdate"
    )
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("ship0")
    )
    cutoff = li.agg(
        F.date_sub(
            F.max(F.col("l_shipdate").cast("date")), _KM_CENSOR_DAYS
        ).alias("cut")
    )
    od = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    return (
        od.join(first_ship, od.o_orderkey == first_ship.l_orderkey)
        .crossJoin(F.broadcast(cutoff))
        .where(F.col("od") <= F.col("cut"))
        .select(
            "priority",
            F.expr(
                "if(cast(ship0 as date) <= cut,"
                " datediff(cast(ship0 as date), od),"
                " datediff(cut, od))"
            ).cast("bigint").alias("t_days"),
            F.expr("cast(ship0 as date) <= cut").alias("is_event"),
        )
    )


def orders_kaplan_meier_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for order time-to-first-ship WITH
    right censoring — the survival-analysis family (churn,
    time-to-event, reliability) the monitoring stack lacked: per
    elapsed day t, the risk set, event and censor counts, and the
    product-limit survival estimate Ŝ(t) = Π_{s≤t} (n_s − d_s)/n_s.

    Censoring contract: the observation window closes
    ``_KM_CENSOR_DAYS`` before the corpus' max ship date; an order
    first-shipped after the cutoff is CENSORED at (cutoff − orderdate)
    — still at risk up to that day, contributing no event — and an
    order PLACED after the cutoff is out of the study.  Events at t
    precede censorings at t (the standard convention): both leave the
    risk set after day t's factor.

    Exactness: the product limit is folded in integer ppm —
    ``surv ← surv·(n_t − d_t) div n_t`` at event days only — so both
    engines agree to the digit (truncating integer arithmetic, no
    float product; see ``_km_fold_curve``).  The DuckDB oracle replays
    the identical fold as a recursive CTE (the ``events_holt_linear``
    discipline).

    Scale: per-order first-ship collapses lineitem map-side; the study
    frame is one bounded aggregation; the day table is BOUNDED BY THE
    DAY AXIS (max observed lead time, ~a quarter of calendar days),
    so the sequential fold runs over O(days) rows, independent of
    order count — the calendar-bounded pattern every monitor here
    uses.
    """
    days = _km_study(spark, sf_dir).groupBy("t_days").agg(
        F.sum(F.expr("if(is_event, 1L, 0L)")).alias("d"),
        F.sum(F.expr("if(is_event, 0L, 1L)")).alias("c"),
    )
    return _km_fold_curve(days, [])


def orders_km_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED Kaplan–Meier: the time-to-first-ship survival curve
    of ``orders_kaplan_meier_ship`` computed independently per order
    priority — the standard cohort-comparison form of the estimator
    (does '1-URGENT' actually ship faster, survival-wise, than
    '5-LOW'?).  Same censoring contract (global cutoff at max ship −
    ``_KM_CENSOR_DAYS``), same integer-ppm product-limit fold, one
    fold per stratum.

    Scale: identical to the global curve except the fold runs
    per-stratum and the strata fold in PARALLEL (one Arrow group
    each) — |strata| × O(days) rows total, each stratum's risk table
    bounded by the calendar lead-time axis; lineitem still collapses
    map-side and the stratum key rides the one aggregation.
    """
    days = _km_study(spark, sf_dir).groupBy("priority", "t_days").agg(
        F.sum(F.expr("if(is_event, 1L, 0L)")).alias("d"),
        F.sum(F.expr("if(is_event, 0L, 1L)")).alias("c"),
    )
    return _km_fold_curve(days, ["priority"])


def events_cuped_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for A/B readouts (Deng et al., WSDM
    2013) — the experimentation-platform op that joins the χ² and
    attribution members of this family: each user's PRE-period mean
    value is the covariate X, the POST-period mean is the metric Y,
    θ = cov(X,Y)/var(X) is fit POOLED (assignment-independent, the
    standard choice), and the per-user adjusted metric is
    Y − θ·(X − X̄).  Per deterministically-hashed arm the query reports
    the raw and adjusted means and the variance-reduction fraction —
    the number that decides how much traffic CUPED saves.

    Exactness: the pre/post cutover is the integer µs midpoint of the
    corpus span; X/Y are ×10⁴-quantized per-user means; θ is a
    ppm-scaled truncating ratio of exact decimal(38,0) moment sums;
    each adjusted value truncates once more — every division site is
    fixed, so the engines agree to the digit.  Users need BOTH periods
    to enter (documented; the one-sided rest are the
    sample-maintenance queries' concern).

    Scale: two map-side-combining per-(user, period) aggregations →
    one |users|-key join (co-partitioned) → moment sums that reduce
    map-side → a broadcast θ/X̄ row → one |arms|-key aggregate.
    decimal(38,0) bounds hold to ~10⁹ users at these scales.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.unix_micros(F.col("ts")).alias("us"), "value"
    )
    cut = ev.agg(
        F.expr("(min(us) + max(us)) div 2").alias("cut_us")
    )
    per = (
        ev.crossJoin(F.broadcast(cut))
        .withColumn("pre", F.expr("us < cut_us"))
        .groupBy("user_id", "pre")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sdec"),
        )
        .select(
            "user_id",
            "pre",
            F.expr(
                "cast(floor((cast(sdec as double) / n) * 10000 + 0.5)"
                " as bigint)"
            ).alias("m"),
        )
    )
    xy = (
        per.where("pre").select("user_id", F.col("m").alias("x"))
        .join(
            per.where("not pre").select("user_id", F.col("m").alias("y")),
            "user_id",
        )
        .withColumn(
            "arm",
            F.expr(
                "if(cast(conv(substring(md5(cast(user_id as string)),"
                " 1, 15), 16, 10) as bigint) % 2 = 0, 'A', 'B')"
            ),
        )
    )
    mom = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
    ).select(
        F.expr(
            "cast(case when n * sxx - cast(sx as decimal(38,0)) * sx = 0"
            " then 0 else (n * sxy - cast(sx as decimal(38,0)) * sy)"
            " * 1000000 div (n * sxx - cast(sx as decimal(38,0)) * sx)"
            " end as bigint)"
        ).alias("theta_ppm"),
        F.expr("cast(sx as decimal(38,0)) * 1000000 div n")
        .cast("bigint")
        .alias("xbar_uppm"),
    )
    adj = xy.crossJoin(F.broadcast(mom)).select(
        "arm",
        F.expr("y * 1000000").alias("y_uppm"),
        F.expr(
            "cast(y * 1000000 - cast(theta_ppm as decimal(38,0))"
            " * (x * 1000000 - xbar_uppm) div 1000000 as bigint)"
        ).alias("adj_uppm"),
    )
    return adj.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.expr("cast(sum(y_uppm) div count(*) as bigint)").alias(
            "mean_y_uppm"
        ),
        F.expr("cast(sum(adj_uppm) div count(*) as bigint)").alias(
            "mean_adj_uppm"
        ),
        F.expr(
            "cast(case when count(*) * cast(sum(cast(y_uppm as"
            " decimal(38,0)) * y_uppm) as decimal(38,0))"
            " - cast(sum(y_uppm) as decimal(38,0)) * sum(y_uppm) = 0"
            " then null else"
            " ((count(*) * cast(sum(cast(y_uppm as decimal(38,0))"
            "   * y_uppm) as decimal(38,0))"
            "   - cast(sum(y_uppm) as decimal(38,0)) * sum(y_uppm))"
            "  - (count(*) * cast(sum(cast(adj_uppm as decimal(38,0))"
            "     * adj_uppm) as decimal(38,0))"
            "     - cast(sum(adj_uppm) as decimal(38,0)) * sum(adj_uppm)))"
            " * 1000000"
            " div (count(*) * cast(sum(cast(y_uppm as decimal(38,0))"
            "      * y_uppm) as decimal(38,0))"
            "      - cast(sum(y_uppm) as decimal(38,0)) * sum(y_uppm))"
            " end as bigint)"
        ).alias("var_reduction_ppm"),
    )


#: Poisson bootstrap machinery.  B = 15 deterministic replicates; each
#: row's per-replicate weight is a Poisson(1) draw taken by inverting
#: the EXACT 24-bit integer CDF table below on a 6-hex-char slice of a
#: salted md5 digest (3 digests × 5 slices — the sketch family's
#: digest-budget discipline; 24-bit inversion bias is only the CDF
#: rounding, ~6e-8 per cell, unlike a mod-10000 fold of 16 bits).
#: Thresholds are round(CDF_k·2²⁴) for k = 0..7 (tail P(w ≥ 8) ≈ 1e-5
#: maps to w = 8): e⁻¹-derived constants, hardcoded so both engines
#: share the exact integers.
_BOOT_B = 15
_POIS_CDF_24 = (
    6171993,
    12343986,
    15429982,
    16458648,
    16715814,
    16767247,
    16775819,
    16777044,
)


def _pois_w(u: str) -> str:
    """SQL CASE: 24-bit uniform ``u`` → Poisson(1) weight (dialect-
    neutral: only CASE/comparison syntax, valid in Spark and DuckDB)."""
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF_24)
    )
    return f"(CASE {branches} ELSE 8 END)"


def events_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP of the per-type mean — the at-scale
    uncertainty method (each row enters replicate b with an i.i.d.
    Poisson(1) multiplicity, so replicates are computed in ONE pass
    with no resample shuffle — the trick that makes bootstrap viable
    on data too large to draw n-out-of-n samples from), made fully
    DETERMINISTIC: weights invert an exact 24-bit integer Poisson(1)
    CDF on disjoint 6-hex slices of salted md5 digests, so both
    engines replay the identical replicate weights and the DuckDB
    oracle checks the VALUES.

    Per event_type: row count, the ×10⁴-quantized mean, and the
    bootstrap spread of the replicate means — min / lower-median /
    max over the valid replicates (a replicate whose total weight is
    0 — possible only on near-empty types — is excluded and counted).
    The spread is the CI-flavored readout a dashboard wants next to
    every mean at 100 TB, where a second data pass for error bars is
    unaffordable.

    Scale: ONE scan; the B-way explode reduces map-side to
    |types|·B cells before the only shuffle; order statistics run on
    B-element arrays per type.  Weight draws cost 3 md5 per row
    (amortized over 15 replicates — the digest-budget lesson).
    """
    base = load_table(spark, "events", sf_dir).select(
        "event_type",
        "event_id",
        F.expr(
            "cast(floor(cast(value as double) * 10000 + 0.5) as bigint)"
        ).alias("q"),
    )
    # digests live ONLY on the replicate branch — the exact branch
    # scans without them (separate consumers re-derive the plan, so
    # hanging the md5 columns on the shared frame would run them twice)
    ev = base
    n_digests = (_BOOT_B + 4) // 5
    for s in range(n_digests):
        ev = ev.withColumn(
            f"d{s}",
            F.expr(f"md5(concat(cast(event_id as string), ':bs{s}'))"),
        )
    # one PARAMETERIZED slice expression after exploding the bare
    # replicate index — 15 inlined struct/CASE copies made the
    # expression tree so large that Catalyst ANALYSIS alone cost
    # ~2.8 s per fresh plan (execution was 0.1 s); this form analyzes
    # in ~0.1 s with identical values
    digests = ", ".join(f"d{s}" for s in range(n_digests))
    u = (
        f"cast(conv(substring(element_at(array({digests}),"
        f" cast(b div 5 as int) + 1), cast(1 + 6 * (b % 5) as int), 6),"
        f" 16, 10) as bigint)"
    )
    cells = (
        ev.select(
            "event_type",
            "q",
            *[f"d{s}" for s in range(n_digests)],
            F.expr(f"explode(sequence(0, {_BOOT_B - 1}))").alias("b"),
        )
        .select(
            "event_type",
            "q",
            "b",
            F.expr(f"cast({_pois_w(u)} as bigint)").alias("w"),
        )
        .groupBy("event_type", "b")
        # Σ w·q is a SUM OF VALUES over the corpus (w ≤ 8, q the
        # ×10⁴-quantized value) — ~8·q̄·n wraps int64 near 10¹¹
        # rows/type at large value scales, so the sum runs in
        # DECIMAL(38,0) (the audit rule: ppm/means over value sums
        # need the wide interior; the mean mb is bounded and lands
        # back in bigint via div)
        .agg(
            F.sum(F.expr("w * cast(q as decimal(38,0))")).alias("num"),
            F.sum("w").alias("den"),
        )
        .where(F.col("den") > 0)
        .select(
            "event_type",
            F.expr("cast(num div den as bigint)").alias("mb"),
        )
    )
    boot = cells.groupBy("event_type").agg(
        F.expr("array_sort(collect_list(mb))").alias("arr")
    )
    exact = base.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        # same value-sum class as the replicate numerator (E[w]=1 ⇒
        # Σq ~ Σw·q): DECIMAL(38,0) interior, bounded mean back in
        # bigint — DuckDB's sum(q) already accumulates in HUGEINT
        F.expr(
            "cast(sum(cast(q as decimal(38,0))) div count(*) as bigint)"
        ).alias("mean_x10000"),
    )
    return exact.join(boot, "event_type").select(
        "event_type",
        "n_events",
        "mean_x10000",
        F.expr("size(arr)").cast("bigint").alias("n_boot_valid"),
        F.expr("element_at(arr, 1)").alias("boot_min"),
        F.expr(
            "element_at(arr, cast((size(arr) + 1) div 2 as int))"
        ).alias("boot_med"),
        F.expr("element_at(arr, size(arr))").alias("boot_max"),
    )


def _poisson_bootstrap_oracle() -> str:
    n_digests = (_BOOT_B + 4) // 5
    dcols = ", ".join(
        f"md5(event_id::VARCHAR || ':bs{s}') AS d{s}"
        for s in range(n_digests)
    )
    digests = ", ".join(f"d{s}" for s in range(n_digests))
    u = (
        f"('0x' || substr([{digests}][(b // 5)::INT + 1],"
        f" (1 + 6 * (b % 5))::INT, 6))::BIGINT"
    )
    return f"""
        WITH ev AS MATERIALIZED (
            SELECT event_type,
                   floor(value::DOUBLE * 10000 + 0.5)::BIGINT AS q,
                   {dcols}
            FROM events
        ),
        reps AS (
            SELECT event_type, q, t.b, {_pois_w(u)}::BIGINT AS w
            FROM ev, (SELECT unnest(range(0, {_BOOT_B})) AS b) t
        ),
        cells AS (
            SELECT event_type, b, sum(w * q::HUGEINT) AS num,
                   sum(w)::BIGINT AS den
            FROM reps GROUP BY 1, 2
        ),
        mb AS (
            SELECT event_type, (num // den)::BIGINT AS mb
            FROM cells WHERE den > 0
        ),
        boot AS (
            SELECT event_type, list_sort(list(mb)) AS arr
            FROM mb GROUP BY 1
        ),
        exact AS (
            SELECT event_type, count(*)::BIGINT AS n_events,
                   (sum(q) // count(*))::BIGINT AS mean_x10000
            FROM ev GROUP BY 1
        )
        SELECT e.event_type, e.n_events, e.mean_x10000,
               len(arr)::BIGINT AS n_boot_valid,
               arr[1]::BIGINT AS boot_min,
               arr[(len(arr) + 1) // 2]::BIGINT AS boot_med,
               arr[len(arr)]::BIGINT AS boot_max
        FROM exact e JOIN boot USING (event_type)
    """


def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the first thing an
    experimentation platform checks before reading ANY metric: do the
    hash-assigned arm sizes match the declared 50/50 allocation?
    χ² = Σ(obs − exp)²/exp over the two arms, emitted ×10⁶ with
    truncating division (exp = users div 2 per arm, remainder to B —
    fixed so both engines agree); χ²_ppm ≥ 3.84·10⁶ flags a broken
    randomizer (at 1 df).  Uses the same md5 arm assignment as
    ``events_cuped_ab``, so a mismatch here invalidates that readout.

    Scale: one user-distinct aggregation (map-side partial distinct)
    and constant-row arithmetic.
    """
    users = (
        load_table(spark, "events", sf_dir)
        .select("user_id")
        .distinct()
        .select(
            F.expr(
                "if(cast(conv(substring(md5(cast(user_id as string)),"
                " 1, 15), 16, 10) as bigint) % 2 = 0, 1L, 0L)"
            ).alias("is_a")
        )
    )
    agg = users.agg(
        F.sum("is_a").alias("n_a"),
        F.expr("count(*) - sum(is_a)").alias("n_b"),
    )
    return agg.select(
        "n_a",
        "n_b",
        F.expr("(n_a + n_b) div 2").alias("exp_a"),
        F.expr("n_a + n_b - (n_a + n_b) div 2").alias("exp_b"),
        # diff²·10⁶ wraps int64 once the arm imbalance exceeds ~3·10⁶
        # users (0.3% at 10⁹ users — a realistic broken split, the
        # very case SRM exists to catch) — DECIMAL(38,0) interior
        # (the HITS-renorm class); chi2 output is diff²·10⁶/exp ≤
        # n·10⁶, exact back in bigint
        F.expr(
            "cast(case when (n_a + n_b) div 2 = 0 then null else"
            " cast(n_a - (n_a + n_b) div 2 as decimal(38,0))"
            " * (n_a - (n_a + n_b) div 2)"
            " * 1000000 div ((n_a + n_b) div 2)"
            " + cast(n_b - (n_a + n_b - (n_a + n_b) div 2)"
            "        as decimal(38,0))"
            "   * (n_b - (n_a + n_b - (n_a + n_b) div 2))"
            "   * 1000000 div (n_a + n_b - (n_a + n_b) div 2) end"
            " as bigint)"
        ).alias("srm_chi2_ppm"),
    )


_LOGRANK_A = "1-URGENT"
_LOGRANK_B = "5-LOW"


def orders_km_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST between two survival strata — the hypothesis-test
    completion of the Kaplan–Meier family (curve → strata → "is the
    difference real?"): compares the 1-URGENT vs 5-LOW
    time-to-first-ship arms under the shared censoring contract.  At every event day t the
    A-arm's observed events are compared with the hypergeometric
    expectation E = d·n_A/n and variance
    V = d·n_A·(n−n_A)·(n−d) / (n²·(n−1)); the statistic
    χ² = (Σ(O−E))²/ΣV is emitted ×10⁶ (``chi2_ppm``) with every
    division truncating — both engines replay the identical integer
    sequence, so the statistic matches to the digit (the
    ``events_chi2_ab_types`` discipline).  χ²_ppm ≥ 3.84·10⁶ ≈ p<0.05
    at 1 df.

    Scale: the two risk tables are calendar-bounded (lead-time day
    axis); their cumulative windows run over that bounded axis (the
    documented bounded-frame exception), and the final reduction is
    one global sum.  decimal(38,0) holds d·n_A·(n−n_A)·(n−d)·10⁶ to
    n ≈ 10⁹ study orders.
    """
    study = (
        _km_study(spark, sf_dir)
        .where(F.col("priority").isin(_LOGRANK_A, _LOGRANK_B))
        .select(
            F.expr(f"priority = '{_LOGRANK_A}'").alias("arm_a"),
            "t_days",
            "is_event",
        )
    )
    days = study.groupBy("t_days").agg(
        F.sum(F.expr("if(arm_a and is_event, 1L, 0L)")).alias("da"),
        F.sum(F.expr("if(arm_a and not is_event, 1L, 0L)")).alias("ca"),
        F.sum(F.expr("if(not arm_a and is_event, 1L, 0L)")).alias("db"),
        F.sum(F.expr("if(not arm_a and not is_event, 1L, 0L)")).alias(
            "cb"
        ),
    )
    # risk sets by prefix subtraction over the BOUNDED day axis (the
    # calendar-frame exception: one partition of ≤ max-lead-time rows)
    w = (
        Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = days.withColumn(
        "gone_a", F.coalesce(F.sum(F.expr("da + ca")).over(w), F.lit(0))
    ).withColumn(
        "gone_b", F.coalesce(F.sum(F.expr("db + cb")).over(w), F.lit(0))
    )
    tot = study.agg(
        F.sum(F.expr("if(arm_a, 1L, 0L)")).alias("na0"),
        F.sum(F.expr("if(arm_a, 0L, 1L)")).alias("nb0"),
    )
    terms = risk.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "da",
        "db",
        F.expr("na0 - gone_a").alias("na"),
        F.expr("nb0 - gone_b").alias("nb"),
    ).where(F.expr("da + db > 0"))
    # E and V at ×10⁶, truncating; n ≥ 2 guard drops the final
    # single-subject day where V's (n−1) denominator vanishes
    out = terms.select(
        "da",
        F.expr(
            "cast(cast(da + db as decimal(38,0)) * na * 1000000"
            " div (na + nb) as bigint)"
        ).alias("e_ppm"),
        F.expr(
            "case when na + nb >= 2 then"
            " cast((da + db) as decimal(38,0)) * na * nb"
            " * (na + nb - da - db) * 1000000"
            " div (cast(na + nb as decimal(38,0)) * (na + nb)"
            "      * (na + nb - 1)) else 0 end"
        ).cast("bigint").alias("v_ppm"),
    ).agg(
        F.sum("da").alias("o_a"),
        F.sum("e_ppm").alias("e_a_ppm"),
        F.sum("v_ppm").alias("v_ppm"),
    )
    # a study with NO EVENT DAY AT ALL (empty, or qualifying orders
    # that are all censored) must yield zero rows, not the global
    # aggregate's one all-NULL row — both engine sides share this
    # contract via the `da + db > 0` term filter; pinned by the
    # hypothesis differential (single-excluded-order and
    # all-censored-one-arm examples)
    return out.where(F.col("o_a").isNotNull()).select(
        F.lit(_LOGRANK_A).alias("arm_a"),
        F.lit(_LOGRANK_B).alias("arm_b"),
        "o_a",
        "e_a_ppm",
        "v_ppm",
        # decimal(38,0): (O·10⁶ − E_ppm)² reaches ~10²⁰ already at
        # sf0.1-sized studies — bigint squares overflow
        F.expr(
            "cast(case when v_ppm = 0 then null else"
            " cast(o_a * 1000000 - e_a_ppm as decimal(38,0))"
            " * (o_a * 1000000 - e_a_ppm) div v_ppm end as bigint)"
        ).alias("chi2_ppm"),
    )


def orders_scd2_ship_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 interval construction — the warehouse dimension-
    versioning shape (valid_from / valid_to / is_current) built from a
    real change sequence: each order's shipping progress, versioned at
    every distinct ship date, with the cumulative number of shipped
    lines as the tracked attribute.  Audited on the 10% key slice so
    the report stays review-sized at any SF.

    Shape: ONE window pass per order (row_number for the version,
    running sum for the attribute, lead for the closing bound) over
    the per-(order, shipdate) pre-aggregate; current versions carry
    valid_to NULL — the exact contract MERGE-based SCD2 pipelines
    maintain incrementally.

    Scale: the window partitions by order key (bounded partitions,
    ≤7 versions); the pre-aggregate map-side combines.
    """
    li = (
        load_table(spark, "lineitem", sf_dir)
        .where(F.col("l_orderkey") % 10 == 0)
        .groupBy(
            F.col("l_orderkey").alias("o_key"),
            F.to_date("l_shipdate").alias("ship_day"),
        )
        .agg(F.count("*").alias("n_lines"))
    )
    w = Window.partitionBy("o_key").orderBy("ship_day")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return li.select(
        "o_key",
        F.row_number().over(w).alias("version"),
        F.sum("n_lines").over(run).alias("n_shipped_cum"),
        F.col("ship_day").alias("valid_from"),
        F.lead("ship_day").over(w).alias("valid_to"),
        F.lead("ship_day").over(w).isNull().alias("is_current"),
    )


def _order_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_key, open_day, close_day): each order is open from its order
    date through its last ship date inclusive."""
    li = load_table(spark, "lineitem", sf_dir).groupBy(
        F.col("l_orderkey").alias("o_key")
    ).agg(F.max(F.to_date("l_shipdate")).alias("close_day"))
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("o_key"),
        F.to_date("o_orderdate").alias("open_day"),
    )
    return o.join(li, "o_key")


def _day_deltas(iv: DataFrame) -> DataFrame:
    """(day, d): the sweep-line boundaries of ``_order_intervals`` —
    +1 on each open day, −1 on the day after each close."""
    opens = iv.select(F.col("open_day").alias("day"), F.lit(1).alias("d"))
    return opens.unionByName(
        iv.select(
            F.expr("date_add(close_day, 1)").alias("day"),
            F.lit(-1).alias("d"),
        )
    )


_LL_SAMPLE_DAYS = 7  # snapshot cadence of the audited WIP measurement


def orders_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LITTLE'S LAW audit of WIP measurement methodology: L = λ·W ties
    average open orders (L) to arrival rate (λ) and average time open
    (W).  With day-granular opens/closes the TIME-AVERAGE L over the
    horizon is EXACTLY Σduration div horizon (the backlog curve's
    integral), so the law holds identically — what a real dashboard
    reports instead is the WEEKLY-SNAPSHOT average (the backlog
    sampled every ``_LL_SAMPLE_DAYS`` days), and THE question is how
    much that sampling distorts L.  This query computes all three —
    λ, W, exact L — plus the weekly-snapshot L and the signed
    ``sampling_gap_ppm`` between snapshot and exact: the one-number
    answer to "is weekly WIP sampling adequate here".

    Exact integers throughout (×10⁶ fixed point, truncating div);
    snapshot counts come from the backlog sweep-line's cumulative
    deltas evaluated AT the grid days (grid markers merged into the
    delta series and swept by one cumulative window — the gap-fill
    LOCF trick on the calendar axis).

    Scale: order-grain reductions map-side combine; the sweep window
    runs over the calendar-bounded (delta ∪ grid) day axis — the
    documented bounded-frame exception; everything else is one-row
    arithmetic.
    """
    iv = _order_intervals(spark, sf_dir)
    mom = iv.agg(
        F.count("*").alias("n_orders"),
        F.sum(
            F.expr("datediff(close_day, open_day) + 1").cast(
                "decimal(38,0)"
            )
        ).alias("sdur"),
        F.min("open_day").alias("d0"),
        F.max("close_day").alias("d1"),
    )
    deltas = (
        _day_deltas(iv)
        .groupBy("day")
        .agg(F.sum("d").alias("net"))
        .select("day", "net", F.lit(0).alias("marker"))
    )
    grid = (
        mom.select(
            F.explode(
                F.expr(
                    f"sequence(d0, d1, interval {_LL_SAMPLE_DAYS} days)"
                )
            ).alias("day")
        )
        .select("day", F.lit(0).alias("net"), F.lit(1).alias("marker"))
    )
    w = (
        Window.orderBy("day", "marker")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    snap = (
        deltas.unionByName(grid)
        .withColumn("open_cnt", F.sum("net").over(w))
        .where(F.col("marker") == 1)
        .agg(
            F.count("*").alias("n_snapshots"),
            F.sum(F.col("open_cnt").cast("decimal(38,0)")).alias("ssnap"),
        )
    )
    return mom.crossJoin(snap).select(
        "n_orders",
        F.expr("datediff(d1, d0) + 1").cast("bigint").alias(
            "horizon_days"
        ),
        "n_snapshots",
        F.expr(
            "cast(n_orders * 1000000 div (datediff(d1, d0) + 1)"
            " as bigint)"
        ).alias("lambda_per_day_x1e6"),
        F.expr("cast(sdur * 1000000 div n_orders as bigint)").alias(
            "w_days_x1e6"
        ),
        F.expr(
            "cast(sdur * 1000000 div (datediff(d1, d0) + 1) as bigint)"
        ).alias("l_exact_x1e6"),
        F.expr(
            "cast(ssnap * 1000000 div n_snapshots as bigint)"
        ).alias("l_snapshot_x1e6"),
        F.expr(
            "cast(case when sdur = 0 then null else"
            " (ssnap * (datediff(d1, d0) + 1) - sdur * n_snapshots)"
            " * 1000000 div (sdur * n_snapshots) end as bigint)"
        ).alias("sampling_gap_ppm"),
    )


def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval SWEEP-LINE: how many orders are open (placed, not yet
    fully shipped) on each day — the operational backlog series.  An
    order is open from its order date through its last ship date
    inclusive.

    Shape: intervals become +1/−1 boundary deltas, aggregated per day,
    then one cumulative sum over the day axis.  The cumsum window is
    GLOBAL but runs over the calendar-bounded per-day frame (≤ a few
    thousand rows at ANY data scale — the day axis does not grow with
    the data), the one case where a single-partition window is safe by
    construction; every data-proportional step before it map-side
    combines.
    """
    iv = _order_intervals(spark, sf_dir)
    deltas = (
        _day_deltas(iv)
        .groupBy("day")
        .agg(
            F.sum("d").alias("net"),
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_opened"),
            F.sum(F.when(F.col("d") == -1, 1).otherwise(0)).alias("n_closed"),
        )
    )
    cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return deltas.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum("net").over(cum).alias("backlog"),
    )


def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the single-number
    inequality/concentration summary (0 = everyone spends the same,
    →1 = one whale) that sits beside Pareto/ABC's cut table; the
    whale-risk KPI a marketplace health dashboard tracks.

    Exact arithmetic end to end: per-customer revenue is the shared
    ×10⁴ quantization; with ranks i = 1..n ascending by
    (revenue, custkey) the estimator is
    ``G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx)`` — every term an exact
    DECIMAL(38,0) integer, output in ppm via the truncating div both
    engines share (ties between equal revenues don't affect Σi·x_i,
    so ANY deterministic tie order yields the same G).  Bound:
    ``Σi·x_i·10⁶ < 10³⁸`` — at 10⁹ customers that allows ~10²³ in
    scaled revenue, unreachable.  Empty input → 0 rows (no customers,
    no inequality), not a division error.

    Transport: the corpus-wide total leaves as a DIGIT STRING.  A
    decimal output column NEVER hash-matches the driver comparator —
    r7 red with HUGEINT vs DECIMAL(38,0), r8 red with DECIMAL(38,0)
    exactly matched on BOTH sides (CORRECTNESS_r07/r08; the pandas
    transport folds DuckDB DECIMAL to float64 while Spark ships
    Decimal objects) — and int64 cannot hold a 100-TB-corpus ×10⁴
    total, so the string of the exact DECIMAL(38,0) is the lossless
    engine-stable envelope.  ``gini_ppm`` is a bounded ratio → bigint.

    Scale: ranks come from the DISTRIBUTED range-partitioned prefix
    pattern (``functions/ordering.range_prefix``) — no
    single-partition window anywhere; the moment sums reduce
    map-side to ONE row.
    """
    rev = (
        load_table(spark, "orders", sf_dir)
        .select(
            "o_custkey",
            F.expr(_MONEY_X10000).alias("r"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("r").alias("rev_scaled"))
    )
    part, off_df, _n, _tot = range_prefix(
        rev, [F.col("rev_scaled"), F.col("o_custkey")], 32
    )
    ranked = part.join(F.broadcast(off_df), "_pid").select(
        (F.row_number().over(
            Window.partitionBy("_pid").orderBy("rev_scaled", "o_custkey")
        ) + F.col("_row_off")).alias("i"),
        "rev_scaled",
    )
    # moments stage first (OLS pattern) so each sum has ONE spelling
    mom = ranked.agg(
        F.count("*").alias("n_customers"),
        F.sum(F.expr("cast(rev_scaled as decimal(38,0))")).alias(
            "total_rev_x10000"
        ),
        F.sum(F.expr("cast(i as decimal(38,0)) * rev_scaled")).alias("s1"),
    )
    return mom.where(F.col("n_customers") > 0).select(
        "n_customers",
        F.col("total_rev_x10000").cast("string").alias("total_rev_x10000"),
        F.expr(
            "cast(case when total_rev_x10000 = 0 then null else"
            " (2 * s1 - (n_customers + 1) * total_rev_x10000) * 1000000"
            " div (n_customers * total_rev_x10000) end as bigint)"
        ).alias("gini_ppm"),
    )


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — the warehouse classic next to
    retention (``events_cohort_retention`` counts who comes back;
    THIS accumulates what they spend): customers are cohorted by
    FIRST-order month, and each (cohort, month-age) cell carries the
    active-customer count, the cohort's revenue that month, the
    running cumulative revenue, and cumulative LTV per cohort member
    — the payback-curve table every growth dashboard plots.

    Determinism: months are exact integers (``year·12 + month − 1``,
    no float months_between); money is the shared ×10⁴ per-row
    quantization summed in DECIMAL(38,0) (corpus-wide cumulative sums
    outgrow bigint — the Pareto lesson); LTV-per-customer is integer
    ``div`` by the FULL cohort size (not that month's actives).  The
    two unbounded sums leave the engine as DIGIT STRINGS — a decimal
    output column never hash-matches the driver comparator (r8 red
    even at DECIMAL(38,0) exactly matched on both sides; see the
    NOTES sensitivity table), and int64 can't carry a 100-TB cohort's
    lifetime ×10⁴ revenue; the bounded per-member ratio stays bigint.

    Scale: first-order months reduce per customer map-side; the one
    fact-sized join keys on ``o_custkey`` (the natural key the
    q-series already co-partitions on); the cumulative window runs
    per cohort over ≤|calendar months| rows of the |months²|-bounded
    cell frame — never a data-proportional partition.
    """
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        F.expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").alias(
            "m"
        ),
        F.expr(_MONEY_X10000).alias("rev"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    sizes = first.groupBy("m0").agg(F.count("*").alias("cohort_size"))
    cells = (
        o.join(first, "o_custkey")
        .groupBy("m0", (F.col("m") - F.col("m0")).alias("age_months"))
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum(F.expr("cast(rev as decimal(38,0))")).alias(
                "rev_x10000"
            ),
        )
    )
    w = (
        Window.partitionBy("m0")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.withColumn("cum_rev_x10000", F.sum("rev_x10000").over(w))
        .join(F.broadcast(sizes), "m0")
        .select(
            F.expr("make_date(m0 div 12, m0 % 12 + 1, 1)").alias(
                "cohort_month"
            ),
            F.col("age_months").cast("int").alias("age_months"),
            "n_active",
            "cohort_size",
            F.col("rev_x10000").cast("string").alias("rev_x10000"),
            F.col("cum_rev_x10000").cast("string").alias(
                "cum_rev_x10000"
            ),
            F.expr(
                "cast(cum_rev_x10000 div cohort_size as bigint)"
            ).alias("ltv_per_cust_x10000"),
        )
    )


def events_hourly_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares TREND detection per event type: exact-integer OLS
    of the ×10⁴-quantized hourly mean against the bucket index —
    slope (ppm per bucket) and r² (ppm) with no floating point past
    the shared quantization step, so both engines agree to the digit.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) and r² = num² /
    (den_x·den_y), computed in DECIMAL(38,0) (num² reaches ~10³⁰ on
    long series — bigint is not enough; DuckDB widens to INT128/
    HUGEINT natively and its 10³⁸ ceiling bounds the series length at
    ~10⁵ buckets ≈ 11 years of hours — the calendar again).

    Scale: hourly means reduce map-side; the per-type series index is
    a bounded partitioned window; the moment sums are one
    map-side-combining aggregation.
    """
    hourly = _hourly_sums(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("b")
    pts = hourly.select(
        "event_type",
        F.row_number().over(w).cast("bigint").alias("x"),
        F.expr(
            "cast(floor((cast(sdec as double) / n) * 10000 + 0.5)"
            " as bigint)"
        ).alias("y"),
    )
    # n >= 2 guards denx = n·Σx² − (Σx)² > 0 (x are distinct ranks);
    # a constant series makes deny = 0 ⇒ r² is undefined → NULL, not a
    # division error (the driver gate runs ANSI mode)
    mom = (
        pts.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("x * y")).alias("sxy"),
            F.sum(F.expr("x * x")).alias("sxx"),
            F.sum(F.expr("cast(y as decimal(38,0)) * y")).alias("syy"),
        )
        .where(F.col("n") >= 2)
    )
    num = (
        "(cast(n as decimal(38,0)) * sxy"
        " - cast(sx as decimal(38,0)) * sy)"
    )
    denx = (
        "(cast(n as decimal(38,0)) * sxx"
        " - cast(sx as decimal(38,0)) * sx)"
    )
    deny = (
        "(cast(n as decimal(38,0)) * syy"
        " - cast(sy as decimal(38,0)) * sy)"
    )
    return mom.select(
        "event_type",
        "n",
        F.expr(f"cast({num} * 1000000 div {denx} as bigint)").alias(
            "slope_ppm"
        ),
        F.expr(
            f"cast(case when {deny} = 0 then null else"
            f" {num} * {num} * 1000000 div ({denx} * {deny}) end"
            " as bigint)"
        ).alias("r2_ppm"),
    )


def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen ROBUST trend per event type — the median-of-pairwise-
    slopes companion to ``events_hourly_trend_ols``: where OLS lets a
    single corrupted hour drag the fitted slope arbitrarily, the
    Theil–Sen estimator (median over all C(n,2) pairwise slopes,
    ~29% breakdown point) shrugs off outlier buckets, which is why
    monitoring pipelines pair the two and alarm on disagreement.

    Same exact-integer series as the OLS query (x = per-type bucket
    rank, y = ×10⁴-quantized hourly mean): each pairwise slope is
    ``(y₂−y₁)·10⁶ div (x₂−x₁)`` — both engines truncate integer
    division toward zero (verified ``-7 div 2 = -7 // 2 = -3``), so
    every slope matches to the digit.  The median is the LOWER median
    (rank ``(m+1) div 2`` under (slope, x₁, x₂) order — deterministic
    under slope ties), kept integer instead of averaging the middle
    two.  The intercept is the Theil–Sen companion
    ``median(y·10⁶ − slope·x)`` in the same µ-units of y.  An hour
    whose every value is NULL is skipped before ranking (the
    ``events_holt_linear`` contract), so NULL never reaches the slope
    arithmetic on either engine side.

    Scale: the hourly means reduce map-side from the raw scan (the
    only data-proportional stage); the pairwise self-join and both
    median windows run on the per-type SERIES, whose length is bounded
    by the calendar (n ≤ hours-in-window), so the C(n,2) pair frame is
    calendar²-bounded — independent of row count, the same bound the
    ACF/CCF probes document.  |y·10⁶| ≤ 10¹³ and |slope·x| ≤ 10¹⁶
    keep every term inside bigint.
    """
    hourly = _hourly_sums(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("b")
    # an hour whose every value is NULL (sdec NULL → mean NULL) is
    # SKIPPED before ranking, the events_holt_linear contract — ranks
    # re-close over the surviving buckets on both engine sides
    pts = materialize(
        hourly.select(
            "event_type",
            "b",
            F.expr(
                "cast(floor((cast(sdec as double) / n) * 10000 + 0.5)"
                " as bigint)"
            ).alias("y"),
        )
        .where(F.col("y").isNotNull())
        .select(
            "event_type",
            F.row_number().over(w).cast("bigint").alias("x"),
            "y",
        )
        # FOUR consumers replay this subtree otherwise (both pair-join
        # sides, the residual join, n_points) — and it contains the
        # only data-proportional stage (the raw-scan hourly reduce).
        # Materialize the calendar-bounded series once (guide §2.4);
        # one scan instead of four.
    )
    p1, p2 = pts.alias("p1"), pts.alias("p2")
    pairs = p1.join(
        p2,
        (F.col("p1.event_type") == F.col("p2.event_type"))
        & (F.col("p1.x") < F.col("p2.x")),
    ).select(
        F.col("p1.event_type").alias("event_type"),
        F.expr("(p2.y - p1.y) * 1000000 div (p2.x - p1.x)").alias("slope"),
        F.col("p1.x").alias("x1"),
        F.col("p2.x").alias("x2"),
    )
    # lower median via one gathered sort_array per type instead of a
    # row_number window + count window (two passes over the pair
    # frame): same shuffle volume, no per-partition sort machinery —
    # measured 5.6 s → 2.5 s at sf0.1.  The gathered array is the
    # calendar²-bounded pair list, the documented bound above.
    med = (
        pairs.groupBy("event_type")
        .agg(
            F.expr(
                "sort_array(collect_list(named_struct("
                " 's', slope, 'x1', x1, 'x2', x2)))"
            ).alias("sl")
        )
        .select(
            "event_type",
            F.expr("size(sl)").cast("bigint").alias("n_pairs"),
            F.expr(
                "element_at(sl, cast((size(sl) + 1) div 2 as int)).s"
            ).alias("slope_ppm"),
        )
    )
    resid = pts.join(F.broadcast(med), "event_type").select(
        "event_type",
        "x",
        F.expr("y * 1000000 - slope_ppm * x").alias("r"),
    )
    icept = (
        resid.groupBy("event_type")
        .agg(
            F.expr(
                "sort_array(collect_list(named_struct('r', r, 'x', x)))"
            ).alias("rl")
        )
        .select(
            "event_type",
            F.expr(
                "element_at(rl, cast((size(rl) + 1) div 2 as int)).r"
            ).alias("intercept_ppm"),
        )
    )
    npts = pts.groupBy("event_type").agg(F.count("*").alias("n_points"))
    return (
        npts.filter(F.col("n_points") >= 2)
        .join(med, "event_type")
        .join(icept, "event_type")
        .select(
            "event_type", "n_points", "n_pairs", "slope_ppm", "intercept_ppm"
        )
    )


#: The declared event-type taxonomy of the events stream (TESTDATA.md
#: generator contract).  The seasonal monitor densifies against THIS
#: list, not observed distinct types — a type missing from the whole
#: corpus must show up as zero rows, not disappear.
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_seasonal_profile_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-profile anomaly detection, completing the monitoring
    quartet (MAD = point outliers, CUSUM = level shifts, OLS = trend,
    THIS = seasonality): per (event type, hour-of-day), the baseline
    mean count across days and how many individual days deviate beyond
    2× / below ½× that baseline — the diurnal-pattern break monitor.

    Determinism: baselines are ×100-scaled integer ratios (sum·100 div
    n_days); the anomaly comparisons cross-multiply integers, so no
    division result is ever compared.

    The cell frame is DENSIFIED against the full (declared-type ×
    observed-day × 24h) grid before flagging: a complete one-hour
    outage — the strongest possible diurnal break — produces NO raw
    cell, and without the grid it would be invisible to both the
    baseline (mean inflated by averaging only days-with-data) and the
    low-day count (review finding).  Zero cells count as low days
    whenever the baseline is positive.  The type axis is the DECLARED
    taxonomy (``_EVENT_TYPES``) UNIONED with observed distinct types:
    a type absent from the entire corpus — total ingestion failure,
    the worst break of all — surfaces as 24 all-zero rows, and an
    observed type the declared list has drifted away from stays in
    the report instead of falling out of the grid join.

    Scale: one map-side-combining count to |type × day × hod| cells;
    the grid is calendar × |types|-bounded (broadcast), the left join
    keys on it, and the baseline/flag reduces are |type × hod|-sized.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hod"),
    )
    return seasonal_profile_anomalies(spark, ev, _EVENT_TYPES)


def seasonal_profile_anomalies(
    spark: SparkSession, ev: DataFrame, types
) -> DataFrame:
    """Frame-level seasonal-profile core over (event_type, day, hod)
    rows, densified against the declared ``types`` taxonomy UNIONED
    with the observed distinct types — split out so tests can assert
    both halves of the type-axis contract directly (declared-but-
    absent surfaces; observed-but-undeclared is not dropped)."""
    cells = ev.groupBy("event_type", "day", "hod").agg(
        F.count("*").alias("n")
    )
    # Type axis = DECLARED ∪ OBSERVED: the declared leg surfaces a
    # type absent from the whole corpus (total ingestion failure) as
    # all-zero rows; the observed leg keeps a type the taxonomy has
    # drifted away from (undeclared 'refund' in dirty data) in the
    # report instead of silently dropping it out of the left join.
    # Event-type is a taxonomy-bounded axis by contract, so the union
    # stays broadcastable at any data scale.
    type_axis = (
        spark.createDataFrame([(t,) for t in types], "event_type string")
        .union(ev.select("event_type").distinct())
        .distinct()
    )
    grid = (
        F.broadcast(type_axis)
        .crossJoin(ev.select("day").distinct())
        .select(
            "event_type",
            "day",
            F.explode(F.expr("sequence(0, 23)")).alias("hod"),
        )
    )
    dense = grid.join(cells, ["event_type", "day", "hod"], "left").select(
        "event_type",
        "day",
        "hod",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
    )
    base = dense.groupBy("event_type", "hod").agg(
        F.count("*").alias("n_days"),
        F.expr("(sum(n) * 100) div count(*)").alias("baseline_x100"),
    )
    return (
        dense.join(F.broadcast(base), ["event_type", "hod"])
        .groupBy("event_type", "hod")
        .agg(
            F.first("n_days").alias("n_days"),
            F.first("baseline_x100").alias("baseline_x100"),
            F.count(
                F.when(F.expr("n * 100 > 2 * baseline_x100"), 1)
            ).alias("n_high_days"),
            F.count(
                F.when(
                    F.expr("n * 200 < baseline_x100 and baseline_x100 > 0"),
                    1,
                )
            ).alias("n_low_days"),
        )
    )


#: Max autocorrelation lag (hours) — one full day, so the diurnal
#: cycle shows as the lag-24 peak.
_ACF_MAX_LAG = 24


def events_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of each event type's DENSE hourly
    count series at lags 1..24 — the periodicity detector that closes
    the monitoring quintet (MAD = point outliers, CUSUM = level
    shifts, OLS = trend, seasonal profile = diurnal baseline breaks,
    THIS = how periodic the signal actually is: a strong lag-24 spike
    confirms the daily cycle the seasonal monitor assumes).

    Estimator: the standard global-mean ACF ``r_k = Σ_{t>k}(c_t−c̄)
    (c_{t−k}−c̄) / Σ_t(c_t−c̄)²``, made EXACT by n-scaling: with
    ``d_t = n·c_t − S`` (S = Σc, all integers) the n² factors cancel,
    so ``r_k = Σ d_t·d_{t−k} / Σ d_t²`` is a ratio of exact
    DECIMAL(38,0) integers; output is the ppm floor-division both
    engines truncate identically (toward zero — verified for negative
    numerators on both; a constant series has den = 0 → NULL, not a
    division error).  Exactness bound: ``|num|·10⁶ < 10³⁸`` ⇔
    ``Σd² < 10³²`` — with the calendar-bounded series length (≤10⁵
    hourly buckets ≈ 11 years) that allows ~3·10⁸ events PER HOUR
    per type before overflow, far past any corpus here (the chi2
    documented-bound pattern).

    The series is DENSIFIED against the declared-∪-observed type axis
    and the full observed hour span (the seasonal-monitor contract):
    silent outage hours enter as zeros — exactly the rows that break
    autocorrelation — and a type absent from the whole corpus
    surfaces as 24 NULL-acf rows instead of vanishing.

    Scale: one map-side-combining count to |type × hour| cells; the
    grid is taxonomy × calendar-bounded (broadcast axes); the lag
    probe is a 24-wide bounded explode equi-joined back on
    ``(type, t−k)`` — rollup-sized frames throughout, never raw
    events.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("b")
    )
    return acf_hourly(spark, ev, _EVENT_TYPES, _ACF_MAX_LAG)


def _hourly_centered(
    spark: SparkSession, ev: DataFrame, types
) -> tuple[DataFrame, DataFrame]:
    """Shared construction for the correlation family (ACF, CCF):
    densify (event_type, b) hour-bucket rows against the declared
    ``types`` ∪ observed axis over the observed span and n-scale-
    center the counts.  Returns ``(d, den)`` where ``d`` carries
    (event_type, t, d = n·c − S) as DECIMAL(38,0) and ``den`` carries
    per-type (den = Σd², n_hours)."""
    # span and the observed-type leg derive from the ROLLUP frame, not
    # the raw events — counts covers every observed (type, hour), so
    # the semantics are identical and the raw table is scanned exactly
    # once (at 100 TB the event scan IS the query's cost; everything
    # downstream is calendar × taxonomy sized).  The rollup is pinned
    # (|taxonomy × calendar|-bounded — the LSH-shingle materialization
    # class, SCALE.md) because three consumers read it.
    counts = materialize(
        ev.groupBy("event_type", "b")
        .agg(F.count("*").alias("c"))
    )
    span = counts.agg(F.min("b").alias("b0"), F.max("b").alias("b1"))
    type_axis = (
        spark.createDataFrame([(t,) for t in types], "event_type string")
        .union(counts.select("event_type").distinct())
        .distinct()
    )
    hours = span.select(
        "b0", F.explode(F.expr("sequence(b0, b1, interval 1 hour)")).alias("b")
    ).select(
        F.expr(
            "cast((unix_timestamp(b) - unix_timestamp(b0)) div 3600"
            " as bigint)"
        ).alias("t"),
        "b",
    )
    dense = (
        F.broadcast(type_axis)
        .crossJoin(hours)
        .join(counts, ["event_type", "b"], "left")
        .select(
            "event_type", "t", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    stats = dense.groupBy("event_type").agg(
        F.count("*").alias("nh"), F.sum("c").alias("s")
    )
    d = dense.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "t",
        F.expr("cast(nh as decimal(38,0)) * c - s").alias("d"),
    )
    den = d.groupBy("event_type").agg(
        F.sum(F.expr("d * d")).alias("den"), F.count("*").alias("n_hours")
    )
    return d, den


def acf_hourly(
    spark: SparkSession, ev: DataFrame, types, max_lag: int
) -> DataFrame:
    """Frame-level ACF core over (event_type, b) hour-bucket rows,
    densified against the declared ``types`` ∪ observed axis and the
    observed hour span — split out so tests can inject synthetic
    series (known-ACF ramps, absent types, alternating signs)."""
    d, den = _hourly_centered(spark, ev, types)
    probes = d.select(
        "event_type",
        "d",
        F.explode(F.expr(f"sequence(1, {int(max_lag)})")).alias("k"),
        F.col("t"),
    ).withColumn("tp", F.expr("t - k"))
    num = (
        probes.join(
            d.select(
                "event_type",
                F.col("t").alias("tp"),
                F.col("d").alias("d_prev"),
            ),
            ["event_type", "tp"],
        )
        .groupBy("event_type", "k")
        .agg(F.sum(F.expr("d * d_prev")).alias("num"))
    )
    return num.join(F.broadcast(den), "event_type").select(
        "event_type",
        F.col("k").cast("int").alias("lag"),
        "n_hours",
        F.expr(
            "cast(case when den = 0 then null"
            " else num * 1000000 div den end as bigint)"
        ).alias("acf_ppm"),
    )


_CCF_MAX_LAG = 12


def events_ccf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-correlation between every ordered pair of event types'
    dense hourly count series at lags 0..12 — the LEAD-LAG detector
    completing the correlation pair (ACF = self-periodicity, THIS =
    which signal anticipates which: a 'view' → 'purchase' peak at
    lag 2 says views lead purchases by two hours, the funnel-latency
    signal a monitoring stack wants).

    Estimator: for ordered (lead a, lag b) and lag k,
    ``r_k = Σ_t d_a(t−k)·d_b(t) / √(Σd_a²·Σd_b²)`` with the shared
    n-scale-centered ``d`` series (``_hourly_centered``).  The sums
    (num, den_a, den_b) are EXACT DECIMAL(38,0) integers; the final
    scalar is then computed in doubles — decimal→double casts, the
    product, ``sqrt``, the division, and ``floor(x·10⁶ + 0.5)`` are
    each CORRECTLY-ROUNDED IEEE-754 ops executed in the same order on
    both engines, so the ppm output matches bitwise (the EWMA
    "identical op sequence" contract; sqrt being irrational is
    irrelevant — both engines round it identically).  No overflow
    envelope: nothing squares the numerator (the earlier
    ``num²·10⁶`` form hit DECIMAL(38) at ~3 events/hour of deviation
    over the full calendar cap — review finding).  A constant series
    (den 0 — incl. declared-but-absent types) yields NULL, not a
    division error.

    Scale: the pair probe is a |types|²-bounded equi-join on the hour
    index of calendar-sized frames — rollup arithmetic end to end;
    the raw event table is scanned once (shared pinned rollup).
    """
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("b")
    )
    return ccf_hourly(spark, ev, _EVENT_TYPES, _CCF_MAX_LAG)


def ccf_hourly(
    spark: SparkSession, ev: DataFrame, types, max_lag: int
) -> DataFrame:
    """Frame-level CCF core (see ``events_ccf_hourly``), split out for
    synthetic-series tests."""
    d, den = _hourly_centered(spark, ev, types)
    lagged = d.select(
        F.col("event_type").alias("type_lag"),
        F.col("d").alias("db"),
        F.explode(F.expr(f"sequence(0, {int(max_lag)})")).alias("k"),
        F.col("t"),
    ).withColumn("tp", F.expr("t - k"))
    num = (
        lagged.join(
            d.select(
                F.col("event_type").alias("type_lead"),
                F.col("t").alias("tp"),
                F.col("d").alias("da"),
            ),
            "tp",
        )
        .where(F.col("type_lead") != F.col("type_lag"))
        .groupBy("type_lead", "type_lag", "k")
        .agg(F.sum(F.expr("da * db")).alias("num"))
    )
    dena = den.select(
        F.col("event_type").alias("type_lead"),
        F.col("den").alias("den_a"),
        "n_hours",
    )
    denb = den.select(
        F.col("event_type").alias("type_lag"), F.col("den").alias("den_b")
    )
    return (
        num.join(F.broadcast(dena), "type_lead")
        .join(F.broadcast(denb), "type_lag")
        .select(
            "type_lead",
            "type_lag",
            F.col("k").cast("int").alias("lag"),
            "n_hours",
            F.expr(
                "cast(case when den_a = 0 or den_b = 0 then null"
                " else floor(cast(num as double)"
                " / sqrt(cast(den_a as double) * cast(den_b as double))"
                " * 1000000 + 0.5d)"
                " end as bigint)"
            ).alias("ccf_r_ppm"),
        )
    )


def supplier_otif_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier fulfillment scorecard: per supplier, lead-time stats
    from order date to each line's ship date — line count, mean /
    p95 lead days (exact integers / shared-contract quantile), and
    the on-time share (≤ 60-day lead) in ppm — the vendor-performance
    report every procurement dashboard carries.

    Scale: one broadcast-free equi-join on the natural orderkey (the
    q-series co-partitioning), then a map-side-combining reduce to
    |suppliers| rows; the p95 is the documented exact-percentile
    reducer over bounded groups.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", F.to_date("l_shipdate").alias("ship")
    )
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.to_date("o_orderdate").alias("odate"),
    )
    lead = li.join(o, "l_orderkey").select(
        "l_suppkey", F.datediff("ship", "odate").alias("lead_days")
    )
    return (
        lead.groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("lead_days").alias("lead_sum"),
            F.expr(
                "percentile(lead_days, cast(95 as double)/100)"
            ).alias("p95_raw"),
            F.count(F.when(F.col("lead_days") <= 60, 1)).alias("n_ontime"),
        )
        .select(
            "l_suppkey",
            "n_lines",
            F.expr("lead_sum div n_lines").alias("mean_lead_days"),
            fl4(F.col("p95_raw")).alias("p95_lead_days"),
            F.expr("(n_ontime * 1000000) div n_lines").alias("ontime_ppm"),
        )
    )


def docs_split_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOTAL-VARIATION distance between the two sides of the
    deterministic HASH split (md5(doc_id) mod 2 — the
    ``split_train_val`` axis; doc_id PARITY would be aliased with the
    fixture's deterministic source assignment and measure TV = 1
    vacuously) over the (lang, source) cell distribution — the
    one-number "is my holdout distributionally representative" gate a
    split pipeline runs before trusting eval numbers.  TV = ½Σ|p_c − q_c| is
    the exact-integer drift metric (PSI needs ln — the no-libm rule;
    TV is the standard distribution distance that doesn't): with side
    totals n_a/n_b and cell counts a_c/b_c,
    ``tv_ppm = Σ|a_c·n_b − b_c·n_a|·10⁶ div (2·n_a·n_b)`` — every
    product ~N² runs in a DECIMAL(38,0) interior.  Alongside: the
    WORST cell (largest contribution; ties resolve to the
    lexicographically larger cell label via the struct max) and its
    own ppm share — where to look when the gate trips.

    Scale: one |cells|-bounded count pivot (map-side combining), a
    1-row totals broadcast, and a |cells|-row reduction; the corpus is
    scanned once.
    """
    docs = load_table(spark, "documents", sf_dir).select(
        "lang",
        "source",
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 15),"
            " 16, 10) as bigint) % 2"
        ).alias("side"),
    )
    cells = docs.groupBy("lang", "source").agg(
        F.sum(F.expr("if(side = 0, 1L, 0L)")).alias("a_c"),
        F.sum(F.expr("if(side = 1, 1L, 0L)")).alias("b_c"),
    )
    tot = cells.groupBy().agg(
        F.sum("a_c").alias("n_a"), F.sum("b_c").alias("n_b")
    )
    contrib = cells.crossJoin(F.broadcast(tot)).select(
        F.expr("concat(lang, '/', source)").alias("cell"),
        "n_a",
        "n_b",
        F.expr(
            "abs(cast(a_c as decimal(38,0)) * n_b"
            " - cast(b_c as decimal(38,0)) * n_a)"
        ).alias("dev"),
    )
    return contrib.groupBy().agg(
        F.count("*").alias("n_cells"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.sum("dev").alias("sdev"),
        F.max(F.struct("dev", "cell")).alias("w"),
    ).select(
        "n_cells",
        "n_a",
        "n_b",
        F.expr(
            "cast(case when n_a = 0 or n_b = 0 then null else"
            " sdev * 1000000 div (2 * cast(n_a as decimal(38,0)) * n_b)"
            " end as bigint)"
        ).alias("tv_ppm"),
        F.col("w.cell").alias("worst_cell"),
        F.expr(
            "cast(case when n_a = 0 or n_b = 0 then null else"
            " w.dev * 1000000 div (2 * cast(n_a as decimal(38,0)) * n_b)"
            " end as bigint)"
        ).alias("worst_cell_ppm"),
    )


def docs_language_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset drift monitor: per ingest-order bucket (doc_id div
    100) and language, the bucket's language share vs the corpus-wide
    share, with the signed delta in ppm — catching a source whose
    language mix shifts mid-crawl (the ingestion-QA check next to the
    novelty curve).

    Exact ppm arithmetic throughout.  The |langs|-row corpus-share
    frame broadcasts; the per-bucket totals frame grows with the
    corpus (|docs| div bucket width) so it joins UN-HINTED — ``per``
    is already hash-partitioned by bucket from its groupBy, making
    the join a cheap co-partitioned shuffle at any scale.  The bucket
    width is the shared ``corpus._NOVELTY_BUCKET`` so this monitor
    and the novelty curve slice identically.
    """
    docs = load_table(spark, "documents", sf_dir).select(
        F.expr(f"doc_id div {_NOVELTY_BUCKET}").alias("bucket"), "lang"
    )
    per = docs.groupBy("bucket", "lang").agg(F.count("*").alias("n"))
    btot = per.groupBy("bucket").agg(F.sum("n").alias("bn"))
    ctot = per.groupBy("lang").agg(F.sum("n").alias("cn"))
    total = docs.count()
    return (
        per.join(btot, "bucket")
        .join(F.broadcast(ctot), "lang")
        .select(
            "bucket",
            "lang",
            "n",
            F.expr("(n * 1000000) div bn").alias("share_ppm"),
            F.expr(f"(cn * 1000000) div {total}").alias("corpus_ppm"),
            F.expr(
                f"(n * 1000000) div bn - (cn * 1000000) div {total}"
            ).alias("delta_ppm"),
        )
    )


def events_chi2_ab_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen for experimentation: users are
    deterministically hash-split into A/B cohorts and the event-type
    distribution is tested per type — each row reports the observed
    A/B counts, the expectation cross-products, and that cell pair's
    ×10⁶-scaled chi-square contribution, plus the total statistic on
    every row (the dashboard "is this experiment skewing behavior"
    screen).

    Exactness: with o = observed, r/c = margins, N = total, each
    contribution is (o·N − r·c)² · 10⁶ div (N·r·c), computed as the
    overflow-safe TWO-STEP ratio ``A div B · 10⁶ + (A % B) · 10⁶ div
    B`` in DECIMAL(38,0) (the DSIR/epoch-expansion discipline): the
    single-step form wraps at ~10⁸ events (N⁴·10⁶ vs the 10³⁸ cap)
    while the two-step form is exact to N ≈ 2·10⁹ — beyond that,
    pre-aggregate or sample the cohorts before the screen (the
    docstring bound every decimal operator here carries).

    Scale: one |types×2|-cell contingency reduce with broadcast
    margins — constant-size frames after the first map-side combine.
    """
    h = _BIGHASH.format(e="cast(user_id as string)")
    ev = load_table(spark, "events", sf_dir).select(
        F.expr(f"case when {h} % 2 = 0 then 'A' else 'B' end").alias(
            "cohort"
        ),
        "event_type",
    )
    cells = ev.groupBy("event_type", "cohort").agg(F.count("*").alias("o"))
    rowm = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    colm = cells.groupBy("cohort").agg(F.sum("o").alias("c"))
    total = ev.count()
    d38 = lambda e: f"cast({e} as decimal(38,0))"  # noqa: E731
    num = f"({d38('o')} * {total} - {d38('r')} * c)"
    a = f"({num} * {num})"
    b = f"({d38(str(total))} * r * c)"
    contrib = f"({a} div {b}) * 1000000 + (({a} % {b}) * 1000000) div {b}"
    per = (
        cells.join(F.broadcast(rowm), "event_type")
        .join(F.broadcast(colm), "cohort")
        .withColumn("chi2_cell_x1e6", F.expr(f"cast({contrib} as bigint)"))
    )
    tot = per.agg(F.sum("chi2_cell_x1e6").alias("t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "cohort",
        "o",
        "r",
        "c",
        "chi2_cell_x1e6",
        F.col("t").alias("chi2_total_x1e6"),
    )


def events_twap_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted (time-weighted) averaging over IRREGULARLY
    sampled event streams — the TWAP/`time_weight` aggregate of
    financial and hypertable engines: within each user's time-ordered
    stream, an event's value HOLDS until the user's next event; each
    holding interval is attributed to the type of the event that
    opened it, and per event type the report compares the
    duration-weighted mean against the naive per-interval mean (the
    two diverge exactly when values correlate with holding time —
    the sampling-bias the weighted form corrects).  All arithmetic is
    engine-exact: µs durations as bigint, values ×10⁴-quantized,
    weighted sums in decimal(38,0), truncating division on both
    engines.

    Scale: ONE shuffle on user_id for the lead() window (linear pass
    per user partition — the sessionize topology), then one
    map-side-combining aggregation on the |types|-key axis.  No
    windows without partitions, no data-proportional state.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        F.expr("cast(floor(value * 10000 + 0.5) as bigint)").alias("vq"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select(
        "event_type",
        "vq",
        (F.lead("us").over(w) - F.col("us")).alias("dur"),
    ).filter(F.col("dur").isNotNull())
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_intervals"),
        F.sum("dur").alias("hold_us"),
        F.expr(
            "cast(case when sum(dur) = 0 then 0 else"
            " sum(cast(vq as decimal(38,0)) * dur) div sum(dur)"
            " end as bigint)"
        ).alias("twap_x10000"),
        F.expr(
            "cast(sum(cast(vq as decimal(38,0))) div count(*) as bigint)"
        ).alias("mean_x10000"),
    )


def events_first_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-scoped FIRST-TOUCH attribution — the marketing-
    attribution primitive: per user, events sessionize on a 5-minute
    inactivity gap (the ``window_sessionize_events`` rule); each
    session's first event type is its acquisition touch; every
    purchase in the session credits that touch.  Per touch type:
    sessions opened, sessions converted (≥1 purchase), total purchases
    credited, and the conversion rate in exact integer ppm — the
    report that decides channel spend, here engine-exact and
    oracle-replayable (ties inside a session break on event_id).

    Scale: ONE shuffle on user_id serves the gap-lag, the running
    session-id sum, and the per-(user, session) first-touch window
    (same partition axis, Spark reuses the sort); the rollup is a
    map-side-combining |types|-key aggregation.  No unpartitioned
    windows.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    flagged = ev.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 300_000_000), 1).otherwise(0),
    ).withColumn("sess", F.sum("new_sess").over(w))
    ws = Window.partitionBy("user_id", "sess").orderBy("us", "event_id")
    touched = flagged.withColumn(
        "first_touch", F.first("event_type").over(ws)
    )
    sessions = touched.groupBy("user_id", "sess", "first_touch").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "n_purch"
        )
    )
    return (
        sessions.groupBy("first_touch")
        .agg(
            F.count("*").alias("n_sessions"),
            F.count(F.when(F.col("n_purch") > 0, 1)).alias("n_converted"),
            F.sum("n_purch").alias("n_purchases"),
        )
        .select(
            "first_touch",
            "n_sessions",
            "n_converted",
            "n_purchases",
            F.expr("(n_converted * 1000000) div n_sessions").alias(
                "cvr_ppm"
            ),
        )
    )


QUERIES = {
    "events_winsorized_stats": events_winsorized_stats,
    "events_twap_by_type": events_twap_by_type,
    "events_first_touch_attribution": events_first_touch_attribution,
    "orders_pareto_abc": orders_pareto_abc,
    "events_ewma_hourly": events_ewma_hourly,
    "events_holt_linear": events_holt_linear,
    "events_holt_winters": events_holt_winters,
    "events_holt_conformal": events_holt_conformal,
    "audit_fk_orphans": audit_fk_orphans,
    "customer_rfm_segments": customer_rfm_segments,
    "events_markov_transitions": events_markov_transitions,
    "events_top_paths": events_top_paths,
    "events_dau_wau_stickiness": events_dau_wau_stickiness,
    "orders_scd2_ship_history": orders_scd2_ship_history,
    "orders_kaplan_meier_ship": orders_kaplan_meier_ship,
    "orders_km_by_priority": orders_km_by_priority,
    "orders_km_logrank": orders_km_logrank,
    "events_cuped_ab": events_cuped_ab,
    "events_srm_check": events_srm_check,
    "events_poisson_bootstrap": events_poisson_bootstrap,
    "orders_cohort_ltv": orders_cohort_ltv,
    "customer_revenue_gini": customer_revenue_gini,
    "events_hourly_trend_ols": events_hourly_trend_ols,
    "events_theil_sen_trend": events_theil_sen_trend,
    "orders_open_backlog_daily": orders_open_backlog_daily,
    "orders_littles_law_audit": orders_littles_law_audit,
    "events_cusum_change": events_cusum_change,
    "events_seasonal_profile_anomalies": events_seasonal_profile_anomalies,
    "supplier_otif_scorecard": supplier_otif_scorecard,
    "docs_language_mix_drift": docs_language_mix_drift,
    "docs_split_drift_tv": docs_split_drift_tv,
    "events_chi2_ab_types": events_chi2_ab_types,
    "events_acf_hourly": events_acf_hourly,
    "events_ccf_hourly": events_ccf_hourly,
}



ORACLES = {
    "events_winsorized_stats": """
        WITH bounds AS (
            SELECT event_type,
                   quantile_cont(value, 1.0/100) AS p01,
                   quantile_cont(value, 99.0/100) AS p99
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               floor(any_value(b.p01) * 10000 + 0.5) / 10000.0 AS p01,
               floor(any_value(b.p99) * 10000 + 0.5) / 10000.0 AS p99,
               count(*)::BIGINT AS n,
               count(*) FILTER (WHERE e.value < b.p01)::BIGINT AS n_clip_low,
               count(*) FILTER (WHERE e.value > b.p99)::BIGINT AS n_clip_high,
               floor(
                   (sum(least(greatest(e.value, b.p01), b.p99)
                        ::DECIMAL(18,4))::DOUBLE / count(*)) * 10000 + 0.5
               ) / 10000.0 AS win_mean
        FROM events e JOIN bounds b ON e.event_type = b.event_type
        GROUP BY e.event_type
    """,
    "supplier_otif_scorecard": """
        WITH lead AS (
            SELECT l.l_suppkey,
                   date_diff('day', o.o_orderdate::DATE,
                             l.l_shipdate::DATE) AS lead_days
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        )
        SELECT l_suppkey,
               count(*)::BIGINT AS n_lines,
               sum(lead_days)::BIGINT // count(*) AS mean_lead_days,
               floor(quantile_cont(lead_days, 95.0/100) * 10000 + 0.5)
                   / 10000.0 AS p95_lead_days,
               (count(*) FILTER (WHERE lead_days <= 60) * 1000000)
                   // count(*) AS ontime_ppm
        FROM lead GROUP BY l_suppkey
    """,
    "docs_language_mix_drift": f"""
        WITH per AS (
            SELECT doc_id // {_NOVELTY_BUCKET} AS bucket, lang,
                   count(*)::BIGINT AS n
            FROM documents GROUP BY 1, 2
        ),
        btot AS (SELECT bucket, sum(n)::BIGINT AS bn FROM per GROUP BY bucket),
        ctot AS (SELECT lang, sum(n)::BIGINT AS cn FROM per GROUP BY lang),
        t AS (SELECT sum(n)::BIGINT AS total FROM per)
        SELECT p.bucket, p.lang, p.n,
               (p.n * 1000000) // b.bn AS share_ppm,
               (c.cn * 1000000) // t.total AS corpus_ppm,
               (p.n * 1000000) // b.bn - (c.cn * 1000000) // t.total
                   AS delta_ppm
        FROM per p
        JOIN btot b USING (bucket)
        JOIN ctot c USING (lang), t
    """,
    "events_seasonal_profile_anomalies": f"""
        WITH cells AS (
            SELECT event_type, ts::DATE AS day, hour(ts) AS hod,
                   count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2, 3
        ),
        grid AS (
            SELECT t.event_type, d.day, h.hod
            FROM (SELECT unnest([{", ".join(repr(t) for t in _EVENT_TYPES)}])
                      AS event_type
                  UNION
                  SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT DISTINCT ts::DATE AS day FROM events) d
            CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS hod) h
        ),
        dense AS (
            SELECT g.event_type, g.day, g.hod,
                   coalesce(c.n, 0)::BIGINT AS n
            FROM grid g LEFT JOIN cells c
              ON c.event_type = g.event_type AND c.day = g.day
             AND c.hod = g.hod
        ),
        base AS (
            SELECT event_type, hod, count(*)::BIGINT AS n_days,
                   ((sum(n) * 100) // count(*))::BIGINT AS baseline_x100
            FROM dense GROUP BY event_type, hod
        )
        SELECT c.event_type, c.hod,
               any_value(b.n_days) AS n_days,
               any_value(b.baseline_x100) AS baseline_x100,
               count(*) FILTER (WHERE c.n * 100 > 2 * b.baseline_x100)
                   ::BIGINT AS n_high_days,
               count(*) FILTER (WHERE c.n * 200 < b.baseline_x100
                                  AND b.baseline_x100 > 0)
                   ::BIGINT AS n_low_days
        FROM dense c JOIN base b USING (event_type, hod)
        GROUP BY c.event_type, c.hod
    """,
    "events_hourly_trend_ols": """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS b,
                   count(*)::BIGINT AS n,
                   sum(value::DECIMAL(18,4)) AS sdec
            FROM events GROUP BY 1, 2
        ),
        pts AS (
            SELECT event_type,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY b)::BIGINT AS x,
                   floor((sdec::DOUBLE / n) * 10000 + 0.5)::BIGINT AS y
            FROM hourly
        ),
        mom AS (
            SELECT event_type, count(*)::BIGINT AS n,
                   sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                   sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
                   sum(y::HUGEINT * y) AS syy
            FROM pts GROUP BY event_type
        )
        SELECT event_type, n,
               ((n::HUGEINT * sxy - sx::HUGEINT * sy) * 1000000
                // (n::HUGEINT * sxx - sx::HUGEINT * sx))::BIGINT
                   AS slope_ppm,
               (CASE WHEN (n::HUGEINT * syy - sy::HUGEINT * sy) = 0
                     THEN NULL
                     ELSE (n::HUGEINT * sxy - sx::HUGEINT * sy)
                          * (n::HUGEINT * sxy - sx::HUGEINT * sy) * 1000000
                          // ((n::HUGEINT * sxx - sx::HUGEINT * sx)
                              * (n::HUGEINT * syy - sy::HUGEINT * sy))
                END)::BIGINT AS r2_ppm
        FROM mom WHERE n >= 2
    """,
    "events_theil_sen_trend": """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS b,
                   count(*)::BIGINT AS n,
                   sum(value::DECIMAL(18,4)) AS sdec
            FROM events GROUP BY 1, 2
        ),
        ymeans AS (
            SELECT event_type, b,
                   floor((sdec::DOUBLE / n) * 10000 + 0.5)::BIGINT AS y
            FROM hourly
        ),
        pts AS (
            SELECT event_type,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY b)::BIGINT AS x,
                   y
            FROM ymeans WHERE y IS NOT NULL
        ),
        pairs AS (
            SELECT p1.event_type,
                   ((p2.y - p1.y) * 1000000 // (p2.x - p1.x))::BIGINT
                       AS slope,
                   p1.x AS x1, p2.x AS x2
            FROM pts p1 JOIN pts p2
              ON p2.event_type = p1.event_type AND p1.x < p2.x
        ),
        med AS (
            SELECT event_type, m AS n_pairs, slope AS slope_ppm
            FROM (SELECT *,
                         row_number() OVER (PARTITION BY event_type
                             ORDER BY slope, x1, x2) AS rk,
                         count(*) OVER (PARTITION BY event_type) AS m
                  FROM pairs)
            WHERE rk = (m + 1) // 2
        ),
        icept AS (
            SELECT event_type, r AS intercept_ppm
            FROM (SELECT p.event_type,
                         p.y * 1000000 - s.slope_ppm * p.x AS r,
                         row_number() OVER (PARTITION BY p.event_type
                             ORDER BY p.y * 1000000 - s.slope_ppm * p.x,
                                      p.x) AS rk,
                         count(*) OVER (PARTITION BY p.event_type) AS m
                  FROM pts p JOIN med s USING (event_type))
            WHERE rk = (m + 1) // 2
        ),
        np AS (
            SELECT event_type, count(*)::BIGINT AS n_points
            FROM pts GROUP BY event_type
        )
        SELECT np.event_type, np.n_points, med.n_pairs,
               med.slope_ppm, icept.intercept_ppm
        FROM np
        JOIN med USING (event_type)
        JOIN icept USING (event_type)
        WHERE np.n_points >= 2
    """,
    "orders_kaplan_meier_ship": f"""
        WITH RECURSIVE fs AS (
            SELECT l_orderkey, min(l_shipdate) AS ship0
            FROM lineitem GROUP BY 1
        ),
        cut AS (
            SELECT (max(l_shipdate)::DATE
                    - INTERVAL {_KM_CENSOR_DAYS} DAY)::DATE AS cut
            FROM lineitem
        ),
        study AS (
            SELECT (CASE WHEN fs.ship0::DATE <= c.cut
                         THEN date_diff('day', o.o_orderdate::DATE,
                                        fs.ship0::DATE)
                         ELSE date_diff('day', o.o_orderdate::DATE,
                                        c.cut) END)::BIGINT AS t_days,
                   fs.ship0::DATE <= c.cut AS is_event
            FROM orders o JOIN fs ON fs.l_orderkey = o.o_orderkey, cut c
            WHERE o.o_orderdate::DATE <= c.cut
        ),
        days AS (
            SELECT t_days,
                   sum(CASE WHEN is_event THEN 1 ELSE 0 END)::BIGINT AS d,
                   sum(CASE WHEN is_event THEN 0 ELSE 1 END)::BIGINT AS c
            FROM study GROUP BY t_days
        ),
        idx AS (
            SELECT t_days, d, c,
                   row_number() OVER (ORDER BY t_days)::BIGINT AS i
            FROM days
        ),
        tot AS (SELECT sum(d + c)::BIGINT AS n FROM days),
        rec AS (
            SELECT i.i, i.t_days, i.d, i.c, t.n AS n_at_risk,
                   (CASE WHEN i.d > 0
                         THEN 1000000 * (t.n - i.d) // t.n
                         ELSE 1000000 END)::BIGINT AS surv,
                   (t.n - i.d - i.c)::BIGINT AS nrem
            FROM idx i, tot t WHERE i.i = 1
            UNION ALL
            SELECT i.i, i.t_days, i.d, i.c, r.nrem,
                   (CASE WHEN i.d > 0
                         THEN r.surv * (r.nrem - i.d) // r.nrem
                         ELSE r.surv END)::BIGINT,
                   (r.nrem - i.d - i.c)::BIGINT
            FROM rec r JOIN idx i ON i.i = r.i + 1
        )
        SELECT t_days, n_at_risk, d AS n_events, c AS n_censored,
               surv AS surv_ppm
        FROM rec
    """,
    "orders_km_by_priority": f"""
        WITH RECURSIVE fs AS (
            SELECT l_orderkey, min(l_shipdate) AS ship0
            FROM lineitem GROUP BY 1
        ),
        cut AS (
            SELECT (max(l_shipdate)::DATE
                    - INTERVAL {_KM_CENSOR_DAYS} DAY)::DATE AS cut
            FROM lineitem
        ),
        study AS (
            SELECT o.o_orderpriority AS priority,
                   (CASE WHEN fs.ship0::DATE <= c.cut
                         THEN date_diff('day', o.o_orderdate::DATE,
                                        fs.ship0::DATE)
                         ELSE date_diff('day', o.o_orderdate::DATE,
                                        c.cut) END)::BIGINT AS t_days,
                   fs.ship0::DATE <= c.cut AS is_event
            FROM orders o JOIN fs ON fs.l_orderkey = o.o_orderkey, cut c
            WHERE o.o_orderdate::DATE <= c.cut
        ),
        days AS (
            SELECT priority, t_days,
                   sum(CASE WHEN is_event THEN 1 ELSE 0 END)::BIGINT AS d,
                   sum(CASE WHEN is_event THEN 0 ELSE 1 END)::BIGINT AS c
            FROM study GROUP BY 1, 2
        ),
        idx AS (
            SELECT priority, t_days, d, c,
                   row_number() OVER (PARTITION BY priority
                                      ORDER BY t_days)::BIGINT AS i
            FROM days
        ),
        tot AS (
            SELECT priority, sum(d + c)::BIGINT AS n
            FROM days GROUP BY priority
        ),
        rec AS (
            SELECT i.priority, i.i, i.t_days, i.d, i.c, t.n AS n_at_risk,
                   (CASE WHEN i.d > 0
                         THEN 1000000 * (t.n - i.d) // t.n
                         ELSE 1000000 END)::BIGINT AS surv,
                   (t.n - i.d - i.c)::BIGINT AS nrem
            FROM idx i JOIN tot t ON t.priority = i.priority
            WHERE i.i = 1
            UNION ALL
            SELECT i.priority, i.i, i.t_days, i.d, i.c, r.nrem,
                   (CASE WHEN i.d > 0
                         THEN r.surv * (r.nrem - i.d) // r.nrem
                         ELSE r.surv END)::BIGINT,
                   (r.nrem - i.d - i.c)::BIGINT
            FROM rec r JOIN idx i
              ON i.priority = r.priority AND i.i = r.i + 1
        )
        SELECT priority, t_days, n_at_risk, d AS n_events,
               c AS n_censored, surv AS surv_ppm
        FROM rec
    """,
    "events_srm_check": """
        WITH u AS (
            SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR),
                             1, 15))::BIGINT % 2 = 0
                        THEN 1 ELSE 0 END AS is_a
            FROM (SELECT DISTINCT user_id FROM events)
        ),
        agg AS (
            SELECT sum(is_a)::BIGINT AS n_a,
                   (count(*) - sum(is_a))::BIGINT AS n_b
            FROM u
        )
        SELECT n_a, n_b,
               ((n_a + n_b) // 2)::BIGINT AS exp_a,
               (n_a + n_b - (n_a + n_b) // 2)::BIGINT AS exp_b,
               (CASE WHEN (n_a + n_b) // 2 = 0 THEN NULL ELSE
                    (n_a - (n_a + n_b) // 2)::HUGEINT
                    * (n_a - (n_a + n_b) // 2) * 1000000
                    // ((n_a + n_b) // 2)
                    + (n_b - (n_a + n_b - (n_a + n_b) // 2))::HUGEINT
                      * (n_b - (n_a + n_b - (n_a + n_b) // 2)) * 1000000
                      // (n_a + n_b - (n_a + n_b) // 2)
                END)::BIGINT AS srm_chi2_ppm
        FROM agg
    """,
    "events_cuped_ab": """
        WITH ev AS (
            SELECT user_id, epoch_us(ts) AS us, value FROM events
        ),
        cut AS (SELECT (min(us) + max(us)) // 2 AS cut_us FROM ev),
        per AS (
            SELECT user_id, us < (SELECT cut_us FROM cut) AS pre,
                   floor((sum(value::DECIMAL(18,4)))::DOUBLE / count(*)
                         * 10000 + 0.5)::BIGINT AS m
            FROM ev GROUP BY 1, 2
        ),
        xy AS (
            SELECT p.user_id, p.m AS x, q.m AS y,
                   CASE WHEN ('0x' || substr(md5(p.user_id::VARCHAR),
                              1, 15))::BIGINT % 2 = 0
                        THEN 'A' ELSE 'B' END AS arm
            FROM per p JOIN per q
              ON q.user_id = p.user_id AND p.pre AND NOT q.pre
        ),
        mom AS (
            SELECT (CASE WHEN count(*)::HUGEINT * sum(x::HUGEINT * x)
                              - sum(x)::HUGEINT * sum(x) = 0 THEN 0
                        ELSE (count(*)::HUGEINT * sum(x::HUGEINT * y)
                              - sum(x)::HUGEINT * sum(y)) * 1000000
                             // (count(*)::HUGEINT * sum(x::HUGEINT * x)
                                 - sum(x)::HUGEINT * sum(x))
                    END)::BIGINT AS theta_ppm,
                   (sum(x)::HUGEINT * 1000000 // count(*))::BIGINT
                       AS xbar_uppm
            FROM xy
        ),
        adj AS (
            SELECT arm, y * 1000000 AS y_uppm,
                   (y * 1000000
                    - m.theta_ppm::HUGEINT * (x * 1000000 - m.xbar_uppm)
                      // 1000000)::BIGINT AS adj_uppm
            FROM xy, mom m
        )
        SELECT arm, count(*)::BIGINT AS n_users,
               (sum(y_uppm)::HUGEINT // count(*))::BIGINT AS mean_y_uppm,
               (sum(adj_uppm)::HUGEINT // count(*))::BIGINT
                   AS mean_adj_uppm,
               (CASE WHEN count(*)::HUGEINT * sum(y_uppm::HUGEINT * y_uppm)
                          - sum(y_uppm)::HUGEINT * sum(y_uppm) = 0
                     THEN NULL
                ELSE ((count(*)::HUGEINT * sum(y_uppm::HUGEINT * y_uppm)
                       - sum(y_uppm)::HUGEINT * sum(y_uppm))
                      - (count(*)::HUGEINT * sum(adj_uppm::HUGEINT
                                                 * adj_uppm)
                         - sum(adj_uppm)::HUGEINT * sum(adj_uppm)))
                     * 1000000
                     // (count(*)::HUGEINT * sum(y_uppm::HUGEINT * y_uppm)
                         - sum(y_uppm)::HUGEINT * sum(y_uppm))
                END)::BIGINT AS var_reduction_ppm
        FROM adj GROUP BY arm
    """,
    "orders_km_logrank": f"""
        WITH fs AS (
            SELECT l_orderkey, min(l_shipdate) AS ship0
            FROM lineitem GROUP BY 1
        ),
        cut AS (
            SELECT (max(l_shipdate)::DATE
                    - INTERVAL {_KM_CENSOR_DAYS} DAY)::DATE AS cut
            FROM lineitem
        ),
        study AS (
            SELECT o.o_orderpriority = '{_LOGRANK_A}' AS arm_a,
                   (CASE WHEN fs.ship0::DATE <= c.cut
                         THEN date_diff('day', o.o_orderdate::DATE,
                                        fs.ship0::DATE)
                         ELSE date_diff('day', o.o_orderdate::DATE,
                                        c.cut) END)::BIGINT AS t_days,
                   fs.ship0::DATE <= c.cut AS is_event
            FROM orders o JOIN fs ON fs.l_orderkey = o.o_orderkey, cut c
            WHERE o.o_orderdate::DATE <= c.cut
              AND o.o_orderpriority IN ('{_LOGRANK_A}', '{_LOGRANK_B}')
        ),
        days AS (
            SELECT t_days,
                   sum(CASE WHEN arm_a AND is_event THEN 1
                            ELSE 0 END)::BIGINT AS da,
                   sum(CASE WHEN arm_a AND NOT is_event THEN 1
                            ELSE 0 END)::BIGINT AS ca,
                   sum(CASE WHEN NOT arm_a AND is_event THEN 1
                            ELSE 0 END)::BIGINT AS db,
                   sum(CASE WHEN NOT arm_a AND NOT is_event THEN 1
                            ELSE 0 END)::BIGINT AS cb
            FROM study GROUP BY 1
        ),
        tot AS (
            SELECT sum(CASE WHEN arm_a THEN 1 ELSE 0 END)::BIGINT AS na0,
                   sum(CASE WHEN arm_a THEN 0 ELSE 1 END)::BIGINT AS nb0
            FROM study
        ),
        risk AS (
            SELECT t_days, da, db,
                   coalesce(sum(da + ca) OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0)::BIGINT AS gone_a,
                   coalesce(sum(db + cb) OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0)::BIGINT AS gone_b
            FROM days
        ),
        terms AS (
            SELECT da,
                   ((da + db)::HUGEINT * (t.na0 - gone_a) * 1000000
                    // (t.na0 - gone_a + t.nb0 - gone_b))::BIGINT AS e_ppm,
                   (CASE WHEN t.na0 - gone_a + t.nb0 - gone_b >= 2 THEN
                        (da + db)::HUGEINT * (t.na0 - gone_a)
                        * (t.nb0 - gone_b)
                        * (t.na0 - gone_a + t.nb0 - gone_b - da - db)
                        * 1000000
                        // ((t.na0 - gone_a + t.nb0 - gone_b)::HUGEINT
                            * (t.na0 - gone_a + t.nb0 - gone_b)
                            * (t.na0 - gone_a + t.nb0 - gone_b - 1))
                    ELSE 0 END)::BIGINT AS v_ppm
            FROM risk, tot t
            WHERE da + db > 0
        ),
        agg AS (
            SELECT sum(da)::BIGINT AS o_a,
                   sum(e_ppm)::BIGINT AS e_a_ppm,
                   sum(v_ppm)::BIGINT AS v_ppm
            FROM terms
        )
        SELECT '{_LOGRANK_A}' AS arm_a, '{_LOGRANK_B}' AS arm_b,
               o_a, e_a_ppm, v_ppm,
               (CASE WHEN v_ppm = 0 THEN NULL ELSE
                    (o_a * 1000000 - e_a_ppm)::HUGEINT
                    * (o_a * 1000000 - e_a_ppm) // v_ppm
                END)::BIGINT AS chi2_ppm
        FROM agg WHERE o_a IS NOT NULL
    """,
    "orders_scd2_ship_history": """
        WITH li AS (
            SELECT l_orderkey AS o_key, l_shipdate::DATE AS ship_day,
                   count(*)::BIGINT AS n_lines
            FROM lineitem WHERE l_orderkey % 10 = 0
            GROUP BY 1, 2
        )
        SELECT o_key,
               row_number() OVER w AS version,
               (sum(n_lines) OVER (PARTITION BY o_key ORDER BY ship_day
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW))::BIGINT
                   AS n_shipped_cum,
               ship_day AS valid_from,
               lead(ship_day) OVER w AS valid_to,
               lead(ship_day) OVER w IS NULL AS is_current
        FROM li
        WINDOW w AS (PARTITION BY o_key ORDER BY ship_day)
    """,
    "orders_open_backlog_daily": """
        WITH close AS (
            SELECT l_orderkey AS o_key, max(l_shipdate::DATE) AS close_day
            FROM lineitem GROUP BY l_orderkey
        ),
        iv AS (
            SELECT o.o_orderkey AS o_key, o.o_orderdate::DATE AS open_day,
                   c.close_day
            FROM orders o JOIN close c ON c.o_key = o.o_orderkey
        ),
        deltas AS (
            SELECT day, sum(d)::BIGINT AS net,
                   sum(CASE WHEN d = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n_opened,
                   sum(CASE WHEN d = -1 THEN 1 ELSE 0 END)::BIGINT
                       AS n_closed
            FROM (
                SELECT open_day AS day, 1 AS d FROM iv
                UNION ALL
                SELECT close_day + 1 AS day, -1 AS d FROM iv
            )
            GROUP BY day
        )
        SELECT day, n_opened, n_closed,
               sum(net) OVER (ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)::BIGINT AS backlog
        FROM deltas
    """,
    "events_dau_wau_stickiness": """
        WITH active AS (
            SELECT DISTINCT user_id, ts::DATE AS day FROM events
        ),
        dau AS (
            SELECT day, count(*)::BIGINT AS dau FROM active GROUP BY day
        ),
        lag AS (
            SELECT user_id, day + i::INTEGER AS day, min(i) AS mi
            FROM active, unnest(generate_series(0, 27)) AS t(i)
            GROUP BY user_id, day + i::INTEGER
        ),
        spans AS (
            SELECT day,
                   count(*) FILTER (WHERE mi < 7)::BIGINT AS wau7,
                   count(*)::BIGINT AS mau28
            FROM lag GROUP BY day
        )
        SELECT d.day, d.dau, s.wau7, s.mau28,
               (d.dau * 1000000) // s.wau7 AS stickiness_ppm
        FROM dau d JOIN spans s USING (day)
    """,
    "events_top_paths": f"""
        WITH seq AS (
            SELECT event_type AS a,
                   lead(event_type, 1) OVER w AS b,
                   lead(event_type, 2) OVER w AS c
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT a || '>' || b || '>' || c AS path, count(*)::BIGINT AS n
        FROM seq WHERE c IS NOT NULL
        GROUP BY 1
        ORDER BY n DESC, path
        LIMIT {_PATH_TOPK}
    """,
    "events_cusum_change": """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS b,
                   count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2
        ),
        tgt AS (
            SELECT event_type, count(*)::BIGINT AS n_buckets,
                   sum(n)::BIGINT // count(*)::BIGINT AS tgt
            FROM hourly GROUP BY event_type
        ),
        pref AS (
            SELECT h.event_type, h.b, t.n_buckets, t.tgt,
                   sum(h.n - t.tgt - (t.tgt // 10)) OVER w AS p
            FROM hourly h JOIN tgt t USING (event_type)
            WINDOW w AS (PARTITION BY h.event_type ORDER BY h.b
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
        ),
        dev AS (
            SELECT event_type, b, n_buckets, tgt,
                   p - least(0::BIGINT, min(p) OVER w) AS s
            FROM pref
            WINDOW w AS (PARTITION BY event_type ORDER BY b
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
        )
        SELECT event_type,
               any_value(n_buckets) AS n_buckets,
               any_value(tgt) AS tgt,
               max_by(s, b)::BIGINT AS final_cusum,
               max(s)::BIGINT AS max_cusum,
               max(s) >= 3 * any_value(tgt) AS breached
        FROM dev GROUP BY event_type
    """,
    "customer_rfm_segments": f"""
        WITH o AS (
            SELECT o_custkey, o_orderdate,
                   {_DUCK_MONEY_X10000} AS rev
            FROM orders
        ),
        per AS (
            SELECT o_custkey, max(o_orderdate) AS last_dt,
                   count(*)::BIGINT AS freq, sum(rev)::BIGINT AS money
            FROM o GROUP BY o_custkey
        ),
        g AS (SELECT max(last_dt) AS max_dt FROM per),
        rfm AS (
            SELECT o_custkey,
                   date_diff('day', last_dt::DATE, max_dt::DATE) AS rec,
                   freq, money
            FROM per, g
        ),
        cuts AS (
            SELECT quantile_cont(rec, 1.0/3) AS rec1,
                   quantile_cont(rec, 2.0/3) AS rec2,
                   quantile_cont(freq, 1.0/3) AS freq1,
                   quantile_cont(freq, 2.0/3) AS freq2,
                   quantile_cont(money, 1.0/3) AS money1,
                   quantile_cont(money, 2.0/3) AS money2
            FROM rfm
        ),
        scored AS (
            SELECT CASE WHEN rec <= rec1 THEN 3
                        WHEN rec <= rec2 THEN 2 ELSE 1 END AS r_score,
                   CASE WHEN freq <= freq1 THEN 1
                        WHEN freq <= freq2 THEN 2 ELSE 3 END AS f_score,
                   CASE WHEN money <= money1 THEN 1
                        WHEN money <= money2 THEN 2 ELSE 3 END AS m_score,
                   money
            FROM rfm, cuts
        )
        SELECT r_score, f_score, m_score,
               count(*)::BIGINT AS n_customers,
               floor((sum(money)::DOUBLE / count(*) / 10000.0)
                     * 10000 + 0.5) / 10000.0 AS avg_lifetime_value
        FROM scored GROUP BY r_score, f_score, m_score
    """,
    "events_markov_transitions": """
        WITH seq AS (
            SELECT event_type AS prev_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
        ),
        tr AS (
            SELECT prev_type, next_type, count(*)::BIGINT AS n
            FROM seq WHERE next_type IS NOT NULL
            GROUP BY prev_type, next_type
        )
        SELECT prev_type, next_type, n,
               sum(n) OVER (PARTITION BY prev_type)::BIGINT AS n_prev,
               ((n * 1000000) // sum(n) OVER (PARTITION BY prev_type))
                   ::BIGINT AS p_ppm
        FROM tr
    """,
    "events_ewma_hourly": """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS b,
                   count(*)::BIGINT AS n,
                   sum(value::DECIMAL(18,4)) AS sdec
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        ),
        series AS (
            SELECT event_type,
                   count(*)::BIGINT AS n_buckets,
                   list(sdec::DOUBLE / n ORDER BY b) AS xs
            FROM hourly GROUP BY event_type
        )
        SELECT event_type, n_buckets,
               floor(xs[-1] * 10000 + 0.5) / 10000.0 AS last_mean,
               floor(list_reduce(xs, (acc, x) -> (acc + x) / 2.0)
                     * 10000 + 0.5) / 10000.0 AS ewma_level
        FROM series
    """,
    # NOTE: the fold is replayed with a RECURSIVE CTE, not list_reduce
    # — DuckDB 1.0's list_reduce with a STRUCT accumulator is not
    # referentially transparent (from the second step on, the 't'
    # field expression observes the NEW 'l' instead of acc.l; verified
    # with [2,4,3,5] → (4.28125, .4140625) vs the textbook 4.3125).
    # Plain recursive-step expressions evaluate correctly and replay
    # Spark's exact IEEE op sequence.
    "events_holt_linear": """
        WITH RECURSIVE hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS b,
                   count(*)::BIGINT AS n,
                   sum(value::DECIMAL(18,4)) AS sdec
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        ),
        pts AS (
            SELECT event_type,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY b)::BIGINT AS i,
                   sdec::DOUBLE / n AS x
            FROM hourly
            WHERE sdec IS NOT NULL  -- NULL-mean buckets skipped (both sides)
        ),
        rec AS (
            SELECT event_type, i, x AS l, 0.0::DOUBLE AS t
            FROM pts WHERE i = 1
            UNION ALL
            SELECT p.event_type, p.i,
                   (p.x + r.l + r.t) / 2.0,
                   (r.t + ((p.x + r.l + r.t) / 2.0 - r.l)) / 2.0
            FROM rec r JOIN pts p
              ON p.event_type = r.event_type AND p.i = r.i + 1
        ),
        nb AS (
            SELECT event_type, max(i)::BIGINT AS n_buckets
            FROM pts GROUP BY event_type
        )
        SELECT r.event_type, nb.n_buckets,
               floor(r.l * 10000 + 0.5) / 10000.0 AS holt_level,
               floor(r.t * 10000 + 0.5) / 10000.0 AS holt_trend,
               floor((r.l + r.t) * 10000 + 0.5) / 10000.0
                   AS forecast_next
        FROM rec r JOIN nb
          ON r.event_type = nb.event_type AND r.i = nb.n_buckets
    """,
    "orders_littles_law_audit": f"""
        WITH iv AS (
            SELECT o.o_orderkey AS o_key,
                   o.o_orderdate::DATE AS open_day,
                   li.close_day
            FROM orders o
            JOIN (SELECT l_orderkey, max(l_shipdate::DATE) AS close_day
                  FROM lineitem GROUP BY 1) li
              ON li.l_orderkey = o.o_orderkey
        ),
        mom AS (
            SELECT count(*)::BIGINT AS n_orders,
                   sum((date_diff('day', open_day, close_day) + 1)
                       ::HUGEINT) AS sdur,
                   min(open_day) AS d0, max(close_day) AS d1
            FROM iv
        ),
        deltas AS (
            SELECT day, sum(d)::BIGINT AS net, 0 AS marker FROM (
                SELECT open_day AS day, 1 AS d FROM iv
                UNION ALL
                SELECT close_day + 1 AS day, -1 AS d FROM iv
            ) GROUP BY day
        ),
        grid AS (
            SELECT unnest(generate_series(d0, d1,
                       INTERVAL {_LL_SAMPLE_DAYS} DAY))::DATE AS day,
                   0::BIGINT AS net, 1 AS marker
            FROM mom
        ),
        swept AS (
            SELECT day, marker,
                   sum(net) OVER (ORDER BY day, marker
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS open_cnt
            FROM (SELECT * FROM deltas UNION ALL SELECT * FROM grid)
        ),
        snap AS (
            SELECT count(*)::BIGINT AS n_snapshots,
                   sum(open_cnt::HUGEINT) AS ssnap
            FROM swept WHERE marker = 1
        )
        SELECT n_orders,
               (date_diff('day', d0, d1) + 1)::BIGINT AS horizon_days,
               n_snapshots,
               (n_orders::HUGEINT * 1000000
                // (date_diff('day', d0, d1) + 1))::BIGINT
                   AS lambda_per_day_x1e6,
               (sdur * 1000000 // n_orders)::BIGINT AS w_days_x1e6,
               (sdur * 1000000 // (date_diff('day', d0, d1) + 1))
                   ::BIGINT AS l_exact_x1e6,
               (ssnap * 1000000 // n_snapshots)::BIGINT
                   AS l_snapshot_x1e6,
               (CASE WHEN sdur = 0 THEN NULL ELSE
                    (ssnap * (date_diff('day', d0, d1) + 1)
                     - sdur * n_snapshots) * 1000000
                    // (sdur * n_snapshots) END)::BIGINT
                   AS sampling_gap_ppm
        FROM mom, snap
    """,
    "docs_split_drift_tv": """
        WITH sided AS (
            SELECT lang, source,
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
                       ::BIGINT % 2 AS side
            FROM documents
        ),
        cells AS (
            SELECT lang, source,
                   sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)
                       ::BIGINT AS a_c,
                   sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                       ::BIGINT AS b_c
            FROM sided GROUP BY 1, 2
        ),
        tot AS (
            SELECT sum(a_c)::BIGINT AS n_a, sum(b_c)::BIGINT AS n_b
            FROM cells
        ),
        contrib AS (
            SELECT lang || '/' || source AS cell, t.n_a, t.n_b,
                   abs(a_c::HUGEINT * t.n_b - b_c::HUGEINT * t.n_a)
                       AS dev
            FROM cells, tot t
        ),
        agg AS (
            SELECT count(*)::BIGINT AS n_cells,
                   any_value(n_a) AS n_a, any_value(n_b) AS n_b,
                   sum(dev) AS sdev,
                   max({'dev': dev, 'cell': cell}) AS w
            FROM contrib
        )
        SELECT n_cells, n_a, n_b,
               (CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE
                    sdev * 1000000 // (2 * n_a::HUGEINT * n_b)
                END)::BIGINT AS tv_ppm,
               (w).cell AS worst_cell,
               (CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE
                    (w).dev * 1000000 // (2 * n_a::HUGEINT * n_b)
                END)::BIGINT AS worst_cell_ppm
        FROM agg
    """,
    # the Holt recursion, with the per-step one-step-ahead residual
    # carried on each rec row; conformal rank = exact integer ceil
    "events_holt_conformal": f"""
        WITH RECURSIVE hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS b,
                   count(*)::BIGINT AS n,
                   sum(value::DECIMAL(18,4)) AS sdec
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        ),
        pts AS (
            SELECT event_type,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY b)::BIGINT AS i,
                   sdec::DOUBLE / n AS x
            FROM hourly
            WHERE sdec IS NOT NULL
        ),
        rec AS (
            SELECT event_type, i, x AS l, 0.0::DOUBLE AS t,
                   NULL::BIGINT AS r
            FROM pts WHERE i = 1
            UNION ALL
            SELECT p.event_type, p.i,
                   (p.x + r.l + r.t) / 2.0,
                   (r.t + ((p.x + r.l + r.t) / 2.0 - r.l)) / 2.0,
                   floor(abs(p.x - (r.l + r.t)) * 10000 + 0.5)::BIGINT
            FROM rec r JOIN pts p
              ON p.event_type = r.event_type AND p.i = r.i + 1
        ),
        nb AS (
            SELECT event_type, max(i)::BIGINT AS n_buckets
            FROM pts GROUP BY event_type
        ),
        ranked AS (
            SELECT event_type, r,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY r)::BIGINT AS rk,
                   count(*) OVER (PARTITION BY event_type)::BIGINT AS m
            FROM rec WHERE r IS NOT NULL
        ),
        q AS (
            SELECT event_type, r AS q90
            FROM ranked
            WHERE rk = least(({_CONF_PCT_NUM} * (m + 1)
                              + {_CONF_PCT_DEN} - 1)
                             // {_CONF_PCT_DEN}, m)
        )
        SELECT rec.event_type, nb.n_buckets,
               floor((rec.l + rec.t) * 10000 + 0.5) / 10000.0
                   AS forecast_next,
               q.q90 AS resid_q90_x10000,
               floor(((rec.l + rec.t) - q.q90 / 10000.0) * 10000 + 0.5)
                   / 10000.0 AS conf_lo,
               floor(((rec.l + rec.t) + q.q90 / 10000.0) * 10000 + 0.5)
                   / 10000.0 AS conf_hi
        FROM rec
        JOIN nb ON nb.event_type = rec.event_type
               AND rec.i = nb.n_buckets
        LEFT JOIN q ON q.event_type = rec.event_type
    """,
    # seasonal recursion: the Holt oracle pattern with a LIST column in
    # the recursive state (1-based DuckDB indexing; slot = (i−1) % m)
    "events_holt_winters": f"""
        WITH RECURSIVE hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS b,
                   count(*)::BIGINT AS n,
                   sum(value::DECIMAL(18,4)) AS sdec
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        ),
        pts AS (
            SELECT event_type,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY b)::BIGINT AS i,
                   sdec::DOUBLE / n AS x
            FROM hourly
            WHERE sdec IS NOT NULL
        ),
        rec AS (
            SELECT event_type, i, x AS l, 0.0::DOUBLE AS t,
                   list_transform(range(0, {_HW_M}), z -> 0.0::DOUBLE)
                       AS s
            FROM pts WHERE i = 1
            UNION ALL
            SELECT p.event_type, p.i,
                   (p.x - r.s[((p.i - 1) % {_HW_M})::INT + 1]
                    + r.l + r.t) / 2.0,
                   (r.t + ((p.x - r.s[((p.i - 1) % {_HW_M})::INT + 1]
                            + r.l + r.t) / 2.0 - r.l)) / 2.0,
                   list_transform(r.s, (v, ix) ->
                       CASE WHEN ix = ((p.i - 1) % {_HW_M})::INT + 1
                            THEN (v + (p.x
                                 - (p.x - r.s[((p.i - 1) % {_HW_M})::INT
                                              + 1]
                                    + r.l + r.t) / 2.0)) / 2.0
                            ELSE v END)
            FROM rec r JOIN pts p
              ON p.event_type = r.event_type AND p.i = r.i + 1
        ),
        nb AS (
            SELECT event_type, max(i)::BIGINT AS n_buckets
            FROM pts GROUP BY event_type
        )
        SELECT r.event_type, nb.n_buckets,
               floor(r.l * 10000 + 0.5) / 10000.0 AS hw_level,
               floor(r.t * 10000 + 0.5) / 10000.0 AS hw_trend,
               floor((list_max(r.s) - list_min(r.s)) * 10000 + 0.5)
                   / 10000.0 AS hw_season_amp,
               floor((r.l + r.t
                      + r.s[(nb.n_buckets % {_HW_M})::INT + 1])
                     * 10000 + 0.5) / 10000.0 AS forecast_next
        FROM rec r JOIN nb
          ON r.event_type = nb.event_type AND r.i = nb.n_buckets
    """,
    "audit_fk_orphans": """
        SELECT 'orders.custkey->customer' AS relationship,
               (SELECT count(*) FROM orders)::BIGINT AS n_child,
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))::BIGINT
                   AS n_orphans
        UNION ALL
        SELECT 'lineitem.orderkey->orders',
               (SELECT count(*) FROM lineitem)::BIGINT,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))::BIGINT
        UNION ALL
        SELECT 'lineitem.partkey->part',
               (SELECT count(*) FROM lineitem)::BIGINT,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey))::BIGINT
        UNION ALL
        SELECT 'lineitem.suppkey->supplier',
               (SELECT count(*) FROM lineitem)::BIGINT,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                  WHERE s.s_suppkey = l.l_suppkey))::BIGINT
        UNION ALL
        SELECT 'customer.nationkey->nation',
               (SELECT count(*) FROM customer)::BIGINT,
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))::BIGINT
        UNION ALL
        SELECT 'supplier.nationkey->nation',
               (SELECT count(*) FROM supplier)::BIGINT,
               (SELECT count(*) FROM supplier s
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = s.s_nationkey))::BIGINT
        UNION ALL
        SELECT 'nation.regionkey->region',
               (SELECT count(*) FROM nation)::BIGINT,
               (SELECT count(*) FROM nation n
                WHERE NOT EXISTS (SELECT 1 FROM region r
                                  WHERE r.r_regionkey = n.n_regionkey))::BIGINT
    """,
    "orders_pareto_abc": """
        WITH rev AS (
            SELECT l_partkey AS part_key,
                   sum(floor(l_extendedprice * (1.0 - l_discount) * 10000
                             + 0.5)::BIGINT)::BIGINT AS rev_scaled
            FROM lineitem GROUP BY l_partkey
        ),
        t AS (SELECT sum(rev_scaled)::BIGINT AS total FROM rev),
        c AS (
            SELECT part_key, rev_scaled,
                   sum(rev_scaled) OVER (
                       ORDER BY rev_scaled DESC, part_key
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM rev
        )
        SELECT part_key, rev_scaled,
               ((cum * 1000000) // total)::BIGINT AS cum_ppm,
               CASE WHEN cum * 100 <= 80 * total THEN 'A'
                    WHEN cum * 100 <= 95 * total THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM c, t
    """,
}


_CHI2_DUCK_H = _DUCK_BIGHASH.format(e="user_id::VARCHAR")
# First-touch attribution: gap sessionization, windowed first touch,
# integer-ppm conversion — engine-exact with event_id tie-breaks.
ORACLES["events_first_touch_attribution"] = """
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN us - lag(us) OVER (PARTITION BY user_id
                        ORDER BY us, event_id) IS NULL
                         OR us - lag(us) OVER (PARTITION BY user_id
                        ORDER BY us, event_id) > 300000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
    ),
    sess AS (
        SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                      ORDER BY us, event_id) AS sess
        FROM flagged
    ),
    touched AS (
        SELECT *, first_value(event_type) OVER (
                      PARTITION BY user_id, sess
                      ORDER BY us, event_id) AS first_touch
        FROM sess
    ),
    per_sess AS (
        SELECT user_id, sess, first_touch,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purch
        FROM touched GROUP BY user_id, sess, first_touch
    )
    SELECT first_touch,
           count(*)::BIGINT AS n_sessions,
           count(*) FILTER (WHERE n_purch > 0)::BIGINT AS n_converted,
           sum(n_purch)::BIGINT AS n_purchases,
           ((count(*) FILTER (WHERE n_purch > 0) * 1000000)
            // count(*))::BIGINT AS cvr_ppm
    FROM per_sess GROUP BY first_touch
"""

# TWAP: µs durations, ×10⁴ value quantization, HUGEINT weighted sums,
# truncating division — fully integer-exact on both engines.
ORACLES["events_twap_by_type"] = """
    WITH e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
               floor(value * 10000 + 0.5)::BIGINT AS vq
        FROM events
    ),
    seq AS (
        SELECT event_type, vq,
               lead(us) OVER (PARTITION BY user_id
                              ORDER BY us, event_id) - us AS dur
        FROM e
    )
    SELECT event_type,
           count(*)::BIGINT AS n_intervals,
           sum(dur)::BIGINT AS hold_us,
           (CASE WHEN sum(dur) = 0 THEN 0
                 ELSE sum(vq::HUGEINT * dur) // sum(dur)
            END)::BIGINT AS twap_x10000,
           (sum(vq) // count(*))::BIGINT AS mean_x10000
    FROM seq WHERE dur IS NOT NULL GROUP BY event_type
"""

ORACLES["events_chi2_ab_types"] = f"""
    WITH ev AS (
        SELECT CASE WHEN {_CHI2_DUCK_H} % 2 = 0 THEN 'A' ELSE 'B' END
                   AS cohort,
               event_type
        FROM events
    ),
    cells AS (
        SELECT event_type, cohort, count(*)::BIGINT AS o
        FROM ev GROUP BY 1, 2
    ),
    rowm AS (SELECT event_type, sum(o)::BIGINT AS r FROM cells GROUP BY 1),
    colm AS (SELECT cohort, sum(o)::BIGINT AS c FROM cells GROUP BY 1),
    t AS (SELECT sum(o)::BIGINT AS total FROM cells),
    per AS (
        SELECT cl.event_type, cl.cohort, cl.o, rm.r, cm.c,
               (((cl.o::HUGEINT * t.total - rm.r::HUGEINT * cm.c)
                  * (cl.o::HUGEINT * t.total - rm.r::HUGEINT * cm.c)
                  // (t.total::HUGEINT * rm.r * cm.c)) * 1000000
                + (((cl.o::HUGEINT * t.total - rm.r::HUGEINT * cm.c)
                    * (cl.o::HUGEINT * t.total - rm.r::HUGEINT * cm.c)
                    % (t.total::HUGEINT * rm.r * cm.c)) * 1000000)
                  // (t.total::HUGEINT * rm.r * cm.c))::BIGINT
                   AS chi2_cell_x1e6
        FROM cells cl
        JOIN rowm rm USING (event_type)
        JOIN colm cm USING (cohort), t
    )
    SELECT event_type, cohort, o, r, c, chi2_cell_x1e6,
           (SELECT sum(chi2_cell_x1e6) FROM per)::BIGINT
               AS chi2_total_x1e6
    FROM per
"""

ORACLES["customer_revenue_gini"] = f"""
    WITH rev AS (
        SELECT o_custkey,
               sum({_DUCK_MONEY_X10000})
                   AS rev_scaled
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT row_number() OVER (ORDER BY rev_scaled, o_custkey) AS i,
               rev_scaled
        FROM rev
    ),
    mom AS (
        -- HUGEINT is kept INTERNAL only: no decimal-family column may
        -- reach the output — the r7 gate hash-failed raw HUGEINT vs
        -- Spark DECIMAL(38,0), and the r8 gate hash-failed even the
        -- exact DECIMAL(38,0)-on-both-sides spelling (CORRECTNESS_r08;
        -- the driver's pandas transport folds DuckDB DECIMAL to float64
        -- while Spark ships Decimal objects).  The unbounded total
        -- leaves as a digit string below; ratios leave as BIGINT.
        SELECT count(*)::BIGINT AS n_customers,
               sum(rev_scaled::HUGEINT) AS total_rev_x10000,
               sum(i::HUGEINT * rev_scaled) AS s1
        FROM ranked
    ),
    -- wrapping CTE so the ppm CASE can never bind to a same-named
    -- output alias (ADVICE r8: qualify or wrap — wrapped)
    g AS (
        SELECT n_customers, total_rev_x10000,
               (CASE WHEN total_rev_x10000 = 0 THEN NULL ELSE
                (2 * s1 - (n_customers + 1) * total_rev_x10000) * 1000000
                // (n_customers * total_rev_x10000) END)::BIGINT AS gini_ppm
        FROM mom
        WHERE n_customers > 0
    )
    SELECT n_customers, total_rev_x10000::VARCHAR AS total_rev_x10000,
           gini_ppm
    FROM g
"""

ORACLES["orders_cohort_ltv"] = f"""
    WITH o AS (
        SELECT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
               {_DUCK_MONEY_X10000} AS rev
        FROM orders
    ),
    fst AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY 1),
    sizes AS (
        SELECT m0, count(*)::BIGINT AS cohort_size FROM fst GROUP BY 1
    ),
    cells AS (
        SELECT f.m0, (o.m - f.m0) AS age_months,
               count(DISTINCT o.o_custkey)::BIGINT AS n_active,
               sum(rev::HUGEINT) AS rev_x10000
        FROM o JOIN fst f USING (o_custkey)
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT m0, age_months, n_active, rev_x10000,
               sum(rev_x10000) OVER (
                   PARTITION BY m0 ORDER BY age_months
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_rev_x10000
        FROM cells
    )
    -- no decimal-family output columns: r8 hash-failed even the exact
    -- DECIMAL(38,0)-both-sides spelling — the unbounded sums leave as
    -- digit strings (HUGEINT::VARCHAR renders the same digits Spark's
    -- DECIMAL(38,0)→string does), the bounded ratio as BIGINT.
    SELECT make_date(c.m0 // 12, c.m0 % 12 + 1, 1) AS cohort_month,
           c.age_months::INT AS age_months, c.n_active, s.cohort_size,
           c.rev_x10000::VARCHAR AS rev_x10000,
           c.cum_rev_x10000::VARCHAR AS cum_rev_x10000,
           (c.cum_rev_x10000 // s.cohort_size)::BIGINT
               AS ltv_per_cust_x10000
    FROM cum c JOIN sizes s USING (m0)
"""


#: Shared DuckDB CTE prefix for the correlation family — the oracle
#: mirror of ``_hourly_centered`` (dense grid → n-scale-centered dd
#: frame + per-type den/n_hours).
_CORR_DUCK_CTES = f"""
    WITH ev AS (
        SELECT event_type, date_trunc('hour', ts) AS b FROM events
    ),
    counts AS (
        SELECT event_type, b, count(*)::BIGINT AS c FROM ev GROUP BY 1, 2
    ),
    span AS (SELECT min(b) AS b0, max(b) AS b1 FROM ev),
    hours AS (
        SELECT ((epoch_us(u.h) - epoch_us(s.b0)) // 3600000000)::BIGINT
                   AS t,
               u.h AS b
        FROM span s, unnest(generate_series(s.b0, s.b1, INTERVAL 1 HOUR))
                 AS u(h)
    ),
    types AS (
        SELECT unnest([{", ".join(repr(t) for t in _EVENT_TYPES)}])
            AS event_type
        UNION
        SELECT DISTINCT event_type FROM ev
    ),
    dense AS (
        SELECT ty.event_type, h.t, coalesce(c.c, 0)::BIGINT AS c
        FROM types ty
        CROSS JOIN hours h
        LEFT JOIN counts c
          ON c.event_type = ty.event_type AND c.b = h.b
    ),
    stats AS (
        SELECT event_type, count(*)::BIGINT AS nh, sum(c)::BIGINT AS s
        FROM dense GROUP BY 1
    ),
    dd AS (
        SELECT de.event_type, de.t,
               (st.nh::HUGEINT * de.c - st.s) AS d
        FROM dense de JOIN stats st USING (event_type)
    ),
    den AS (
        SELECT event_type, sum(d * d) AS den, count(*)::BIGINT AS n_hours
        FROM dd GROUP BY 1
    )"""

ORACLES["events_acf_hourly"] = f"""
    {_CORR_DUCK_CTES},
    probes AS (
        SELECT event_type, d, l.k, t - l.k AS tp
        FROM dd, unnest(generate_series(1, {_ACF_MAX_LAG})) AS l(k)
    ),
    num AS (
        SELECT p.event_type, p.k, sum(p.d * d2.d) AS num
        FROM probes p JOIN dd d2
          ON d2.event_type = p.event_type AND d2.t = p.tp
        GROUP BY 1, 2
    )
    SELECT n.event_type, n.k::INT AS lag, de.n_hours,
           (CASE WHEN de.den = 0 THEN NULL
                 ELSE n.num * 1000000 // de.den END)::BIGINT AS acf_ppm
    FROM num n JOIN den de USING (event_type)
"""

ORACLES["events_ccf_hourly"] = f"""
    {_CORR_DUCK_CTES},
    lagged AS (
        SELECT event_type AS type_lag, d AS db, l.k, t - l.k AS tp
        FROM dd, unnest(generate_series(0, {_CCF_MAX_LAG})) AS l(k)
    ),
    num AS (
        SELECT d2.event_type AS type_lead, lg.type_lag, lg.k,
               sum(d2.d * lg.db) AS num
        FROM lagged lg JOIN dd d2 ON d2.t = lg.tp
        WHERE d2.event_type <> lg.type_lag
        GROUP BY 1, 2, 3
    )
    SELECT n.type_lead, n.type_lag, n.k::INT AS lag, da.n_hours,
           (CASE WHEN da.den = 0 OR db.den = 0 THEN NULL
                 ELSE floor(n.num::DOUBLE
                            / sqrt(da.den::DOUBLE * db.den::DOUBLE)
                            * 1000000 + 0.5)
            END)::BIGINT AS ccf_r_ppm
    FROM num n
    JOIN den da ON da.event_type = n.type_lead
    JOIN den db ON db.event_type = n.type_lag
"""

ORACLES["events_poisson_bootstrap"] = _poisson_bootstrap_oracle()
