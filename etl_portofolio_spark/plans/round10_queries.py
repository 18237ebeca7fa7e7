"""Round-10 query wave — the classical-statistics and corpus-modeling
operators still absent from the registry: one-way ANOVA and its robust
Brown-Forsythe twin (completing the two-sample Welch/Mann-Whitney
ladder with k-sample tests), the two-group log-rank test (completing
the Kaplan-Meier / Nelson-Aalen survival ladder with a between-group
test), a Yule-Walker AR(2) fit (the registry's first autoregressive
MODEL fit, beside the descriptive autocorrelation/trend entries), a
block Gram matrix over quantized embeddings (the covariance/PCA
building block beside the power-iteration eigenvector), plug-in mutual
information (the information-theoretic dependence measure beside chi2
and Cramer-style contingency tests), Good-Turing frequency smoothing
(the count-reestimation step beside Kneser-Ney continuation), and
Cohen's kappa (annotator-agreement for labeling pipelines).

Each entry: name -> (builder(spark, sf_dir) -> DataFrame, DuckDB oracle
SQL).  Determinism contract as the other waves: INTEGER arithmetic on
every comparison/rank/hash-path value.  This wave leans hardest on the
staged-integer-division discipline: each statistic is DEFINED as a
specific sequence of int64 multiplications and truncating divisions
(Spark ``div`` == DuckDB ``//`` toward zero, round-8 lesson), so both
engines compute bit-identical BIGINTs with NO floats anywhere except
(a) exact dyadic medians (x.5 doubled back to integers) and (b) ln()
routed through the repo's transcendental rule (round to nano BEFORE
any cross-engine comparison).  Intermediate products are kept under
2^63 BY CONSTRUCTION at the tested scale factors; the docstrings state
the scale factor at which each bound would need DECIMAL(38,0)/HUGEINT
widening (DuckDB raises loudly on int64 overflow, so a violated bound
fails the gate rather than silently wrapping).

Scale theme: MOMENTS, NOT ROWS.  Every statistic here reduces the
fact table with one combinable pass of exact integer moments (counts,
sums, sums of squares/products) and finishes with scalar arithmetic on
a handful of group rows — the shuffle carries O(groups), never O(rows),
at any scale factor.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.plans.oracle_types import oracle_bigint

ROUND10_QUERIES: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {}


# ---------------------------------------------------------------------------
# shared staged-integer one-way-ANOVA tail (ANOVA + Brown-Forsythe)
# ---------------------------------------------------------------------------


def _k_sample_f_tail(grouped: DataFrame, f_alias: str) -> DataFrame:
    """Staged-integer one-way-ANOVA tail shared by the k-sample tests:
    per-group exact moments ``(grp, n, s, ss)`` -> the single-row
    ``(n_total, k_groups, ssw_milli, ssb_milli, <f_alias>)`` frame.

    SSW_g·1000 = (n_g·Σx² − (Σx)²)·1000 div n_g, SSB·1000 =
    Σ_g ((Σx)²·1000 div n_g) − S²·1000 div N, F·1e6 =
    (SSB_milli·1e6 div SSW_milli)·(N−k) div (k−1).  The squared sums
    run in DECIMAL(38,0) on the Spark side (DuckDB's SUM already
    widens to HUGEINT), so the pipeline is exact at ANY scale factor —
    verified by the 100x scale-stress run, where the original int64
    form overflowed LOUDLY under ANSI mode and this form does not.
    The F division nullif-guards the degenerate all-constant input
    (SSW = 0): both engines emit NULL instead of one raising
    DIVIDE_BY_ZERO under ANSI while the other returns NULL.
    """
    per = grouped.select(
        "n",
        "s",
        "ss",
        F.expr(
            "CAST((n * CAST(ss AS DECIMAL(38,0))"
            " - CAST(s AS DECIMAL(38,0)) * s) * 1000 div n AS BIGINT)"
        ).alias("ssw_g_milli"),
        F.expr(
            "CAST(CAST(s AS DECIMAL(38,0)) * s * 1000 div n AS BIGINT)"
        ).alias("t_g_milli"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("s").cast("long").alias("s_all"),
        F.sum("ssw_g_milli").cast("long").alias("ssw_milli"),
        F.sum("t_g_milli").cast("long").alias("sum_t_milli"),
    )
    return tot.select(
        "n_total",
        "k_groups",
        "ssw_milli",
        F.expr(
            "CAST(sum_t_milli - (CAST(s_all AS DECIMAL(38,0)) * s_all * 1000"
            " div n_total) AS BIGINT)"
        ).alias("ssb_milli"),
        F.expr(
            "((sum_t_milli - CAST(CAST(s_all AS DECIMAL(38,0)) * s_all * 1000"
            " div n_total AS BIGINT)) * 1000000"
            " div nullif(ssw_milli, 0)) * (n_total - k_groups)"
            " div nullif(k_groups - 1, 0)"
        )
        .cast("long")
        .alias(f_alias),
    )


def _moments_by_group(values: DataFrame) -> DataFrame:
    """One combinable pass: ``(grp, q)`` -> exact ``(grp, n, s, ss)``."""
    return values.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("ss"),
    )


def _k_sample_f_sql(with_prefix: str, f_alias: str) -> str:
    """DuckDB twin of :func:`_k_sample_f_tail`.  ``with_prefix`` must
    be a WITH clause whose final CTE is named ``j`` and exposes
    ``(grp, q)``.  HUGEINT widening is automatic (SUM); the F division
    carries the same nullif guard as the Spark side.
    """
    return oracle_bigint(
        f"""
{with_prefix}, g AS (
  SELECT grp, COUNT(*) AS n, SUM(q) AS s, SUM(q * q) AS ss
  FROM j GROUP BY 1
), per AS (
  SELECT n, s, ss,
         (n * ss - s * s) * 1000 // n AS ssw_g_milli,
         s * s * 1000 // n AS t_g_milli
  FROM g
), tot AS (
  SELECT SUM(n) AS n_total, COUNT(*) AS k_groups, SUM(s) AS s_all,
         SUM(ssw_g_milli) AS ssw_milli, SUM(t_g_milli) AS sum_t_milli
  FROM per
)
SELECT n_total, k_groups, ssw_milli,
       sum_t_milli - (s_all * s_all * 1000 // n_total) AS ssb_milli,
       ((sum_t_milli - (s_all * s_all * 1000 // n_total)) * 1000000
        // nullif(ssw_milli, 0)) * (n_total - k_groups) // nullif(k_groups - 1, 0)
         AS {f_alias}
FROM tot
""",
        "n_total",
        "k_groups",
        "ssw_milli",
        "ssb_milli",
        f_alias,
    )


# ---------------------------------------------------------------------------
# anova_oneway_quantity — one-way ANOVA F across order-priority groups
# ---------------------------------------------------------------------------


def q_anova_oneway_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA on line-item quantity across the five
    order-priority groups — the k-sample generalization of the
    registry's Welch two-sample test (the parametric twin of
    Kruskal-Wallis, which ranks the same contrast).  Quantities are
    exact small integers, so the whole statistic is the shared
    all-integer pipeline of :func:`_k_sample_f_tail`.

    Scale design: one shuffle join lineitem⋈orders on the order key
    (both sides shuffle-partitioned on the key; at cluster scale this
    is the bucketed co-location case), then ONE combinable 5-group
    moment aggregation — the shuffle after the join carries 5 rows of
    moments, never fact rows.  The F statistic is scalar arithmetic on
    the 5-row frame.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("q")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("grp")
    )
    values = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "grp", "q"
    )
    return _k_sample_f_tail(_moments_by_group(values), "f_permicro")


_ANOVA_SQL = _k_sample_f_sql(
    """
WITH j AS (
  SELECT o.o_orderpriority AS grp, CAST(l.l_quantity AS BIGINT) AS q
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""",
    "f_permicro",
)

ROUND10_QUERIES["anova_oneway_quantity"] = (q_anova_oneway_quantity, _ANOVA_SQL)


# ---------------------------------------------------------------------------
# brown_forsythe_quantity — robust k-sample variance-equality test
# ---------------------------------------------------------------------------


def q_brown_forsythe_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test for equal variances of line-item quantity
    across order priorities — Levene's test with the group MEDIAN as
    center (the robust form), the standard gatekeeper before trusting
    a pooled-variance ANOVA.

    The statistic is a one-way ANOVA on z = |x − median_g|, kept
    all-integer by working in DOUBLED units: the median of integers is
    either an integer or an exact .5 (the interpolated midpoint of two
    integers is dyadic-exact in doubles in both engines), so
    z2 = |2x − 2·median_g| is an exact BIGINT and the shared
    :func:`_k_sample_f_tail` pipeline applies to z2 directly (z2 ≤ 98).

    Scale design: two bounded shuffles — the 5-group exact-median
    aggregation (percentile over a 50-value integer domain; at 100 TB
    this becomes a count-by-value rollup of 250 cells, never a sort),
    a 5-row broadcast back onto the joined fact rows, then the same
    single combinable 5-group moment pass as the ANOVA.
    """
    from etl_portofolio_spark.caching import scoped_persist

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("q")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("grp")
    )
    # the joined fact frame feeds BOTH the median pass and the z-moment
    # pass; Spark does no cross-branch CSE, so persist it once
    rows = scoped_persist(
        li.join(orders, li.l_orderkey == orders.o_orderkey).select("grp", "q")
    )
    med = rows.groupBy("grp").agg(
        F.expr("CAST(2 * percentile(q, 0.5) AS BIGINT)").alias("med2")
    )
    z = rows.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.expr("2 * q - med2")).alias("q")
    )
    return _k_sample_f_tail(_moments_by_group(z), "bf_f_permicro")


_BF_SQL = _k_sample_f_sql(
    """
WITH base AS (
  SELECT o.o_orderpriority AS grp, CAST(l.l_quantity AS BIGINT) AS q0
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), med AS (
  SELECT grp, CAST(2 * median(q0) AS BIGINT) AS med2 FROM base GROUP BY 1
), j AS (
  SELECT base.grp, abs(2 * base.q0 - med.med2) AS q
  FROM base JOIN med ON base.grp = med.grp
)""",
    "bf_f_permicro",
)

ROUND10_QUERIES["brown_forsythe_quantity"] = (
    q_brown_forsythe_quantity,
    _BF_SQL,
)


# ---------------------------------------------------------------------------
# logrank_return_priority — two-group log-rank test on time-to-return
# ---------------------------------------------------------------------------


def q_logrank_return_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test on time from order placement to first
    returned shipment — urgent/high-priority orders vs the rest — the
    between-group significance test that completes the registry's
    survival ladder (``km_time_to_return`` estimates the curve,
    ``nelson_aalen_hazard`` the cumulative hazard; this tests whether
    the two priority strata share one).

    Time-to-event setup exactly as ``km_time_to_return``
    (round7_queries.py): duration = first 'R' ship date minus order
    date, censored at the corpus' last ship date.  At each duration
    with observed returns the hypergeometric moments accumulate as
    staged int64 arithmetic (the formula IS the spec):
    ``e1_nano = d·n1·1e9 div n`` and
    ``v_nano = (((d·(n−d)·1000 div (n−1))·n1 div n)·(n−n1))·1e6 div n``
    — each stage < 2^63 through sf1 (d·n1 ≤ 5e1·1.5e6) — then
    χ²_milli = ((O1·1e9 − E1_nano) div 1e6)² div (V_nano div 1e6).

    Scale design: one combinable pass collapses lineitem to a
    first-return date per order; at-risk counts are suffix sums over
    the CALENDAR-bounded duration domain (a single window over ~5e3
    duration rows, not fact rows), so the shuffle after the per-order
    collapse carries O(durations).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("odate"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        .cast("long")
        .alias("g1"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    first_ret = (
        li.where(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.min(F.to_date("l_shipdate")).alias("ret_date"))
    )
    gmax = li.agg(F.max(F.to_date("l_shipdate")).alias("gmax_date"))
    per_order = (
        orders.join(first_ret, orders.o_orderkey == first_ret.l_orderkey, "left")
        .crossJoin(F.broadcast(gmax))
        .select(
            F.when(
                F.col("ret_date").isNotNull(),
                F.datediff("ret_date", "odate"),
            )
            .otherwise(F.datediff("gmax_date", "odate"))
            .alias("dur"),
            F.when(F.col("ret_date").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("ev"),
            "g1",
        )
    )
    from etl_portofolio_spark.caching import scoped_persist

    # per_order feeds the duration rollup AND the group-count frame
    per_order = scoped_persist(per_order)
    by_dur = per_order.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("c_all"),
        F.sum("g1").cast("long").alias("c_g1"),
        F.sum("ev").cast("long").alias("d_all"),
        F.sum(F.col("ev") * F.col("g1")).cast("long").alias("d_g1"),
    )
    w = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = by_dur.select(
        "dur",
        "d_all",
        "d_g1",
        F.sum("c_all").over(w).alias("n_at"),
        F.sum("c_g1").over(w).alias("n1_at"),
    ).where(F.col("d_all") > 0)
    terms = risk.select(
        "d_all",
        "d_g1",
        F.expr("d_all * n1_at * 1000000000 div n_at").alias("e1_nano_t"),
        # nullif guards: a lone at-risk event row makes n_at - 1 = 0
        # (its variance term is definitionally 0; NULL drops out of the
        # SUM identically in both engines)
        F.expr(
            "(((d_all * (n_at - d_all) * 1000 div nullif(n_at - 1, 0))"
            " * n1_at div n_at) * (n_at - n1_at)) * 1000000 div n_at"
        ).alias("v_nano_t"),
    )
    tot = terms.agg(
        F.sum("d_all").cast("long").alias("d_total"),
        F.sum("d_g1").cast("long").alias("o1"),
        F.sum("e1_nano_t").cast("long").alias("e1_nano"),
        F.sum("v_nano_t").cast("long").alias("v_nano"),
    )
    counts = per_order.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("g1").cast("long").alias("n_grp1"),
    )
    return tot.crossJoin(F.broadcast(counts)).select(
        "n_orders",
        "n_grp1",
        "d_total",
        "o1",
        "e1_nano",
        "v_nano",
        F.expr(
            "((o1 * 1000000000 - e1_nano) div 1000000)"
            " * ((o1 * 1000000000 - e1_nano) div 1000000)"
            " div nullif(v_nano div 1000000, 0)"
        )
        .cast("long")
        .alias("chi2_milli"),
    )


_LOGRANK_SQL = oracle_bigint(
    """
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS g1
  FROM orders
), fr AS (
  SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS ret_date
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
), gm AS (
  SELECT MAX(CAST(l_shipdate AS DATE)) AS gmax_date FROM lineitem
), per_order AS (
  SELECT CASE WHEN fr.ret_date IS NOT NULL
              THEN datediff('day', o.odate, fr.ret_date)
              ELSE datediff('day', o.odate, gm.gmax_date) END AS dur,
         CASE WHEN fr.ret_date IS NOT NULL THEN 1 ELSE 0 END AS ev,
         o.g1
  FROM o LEFT JOIN fr ON o.o_orderkey = fr.l_orderkey CROSS JOIN gm
), by_dur AS (
  SELECT dur, COUNT(*) AS c_all, SUM(g1) AS c_g1,
         SUM(ev) AS d_all, SUM(ev * g1) AS d_g1
  FROM per_order GROUP BY 1
), risk AS (
  SELECT dur, d_all, d_g1,
         SUM(c_all) OVER (ORDER BY dur DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at,
         SUM(c_g1) OVER (ORDER BY dur DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1_at
  FROM by_dur
), terms AS (
  SELECT d_all, d_g1,
         d_all * n1_at * 1000000000 // n_at AS e1_nano_t,
         (((d_all * (n_at - d_all) * 1000 // nullif(n_at - 1, 0))
           * n1_at // n_at) * (n_at - n1_at)) * 1000000 // n_at AS v_nano_t
  FROM risk WHERE d_all > 0
), tot AS (
  SELECT SUM(d_all) AS d_total, SUM(d_g1) AS o1,
         SUM(e1_nano_t) AS e1_nano, SUM(v_nano_t) AS v_nano
  FROM terms
), counts AS (
  SELECT COUNT(*) AS n_orders, SUM(g1) AS n_grp1 FROM per_order
)
SELECT n_orders, n_grp1, d_total, o1, e1_nano, v_nano,
       ((o1 * 1000000000 - e1_nano) // 1000000)
       * ((o1 * 1000000000 - e1_nano) // 1000000)
       // nullif(v_nano // 1000000, 0) AS chi2_milli
FROM tot CROSS JOIN counts
""",
    "n_orders",
    "n_grp1",
    "d_total",
    "o1",
    "e1_nano",
    "v_nano",
    "chi2_milli",
)

ROUND10_QUERIES["logrank_return_priority"] = (
    q_logrank_return_priority,
    _LOGRANK_SQL,
)


# ---------------------------------------------------------------------------
# yule_walker_ar2 — AR(2) fit of the daily-revenue series
# ---------------------------------------------------------------------------


def q_yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule-Walker AR(2) fit of the daily order-revenue series — the
    registry's first autoregressive MODEL fit, beside the descriptive
    ``revenue_autocorrelation`` / ``holt_trend_forecast`` entries:
    φ1 = r1(1−r2)/(1−r1²), φ2 = (r2−r1²)/(1−r1²) from the lag-1/lag-2
    autocovariances.

    All-integer: the series is daily revenue in WHOLE DOLLARS (cents
    div 100), deviations are taken from the truncated integer mean
    (S div N), and the autocovariance products accumulate as exact
    int64 (y² ≤ ~1e14·days at sf0.1; at sf≥10 the series would need
    kilodollar units or DECIMAL widening — DuckDB raises loudly).
    Autocorrelations emit as ``C_k div (C_0 div 1e6)`` (exact staged
    division, deterministic both engines — DuckDB ``//`` and Spark
    ``div`` both truncate toward zero on signed values, round-8
    lesson), and the Yule-Walker solve is pure integer cross-
    multiplication on those permicro values, nullif-guarded against
    the |r1| = 1 pole.

    Scale design: ONE combinable pass collapses orders to the
    CALENDAR-bounded daily frame; the lag windows and moment sums run
    over ~2.4e3 day rows regardless of fact scale.  The single
    unpartitioned window is domain-bounded (days), the repo's standard
    dispensation.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.expr("sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) div 100")
        .cast("long")
        .alias("rev_d")
    )
    wd = Window.orderBy("day")
    wall = Window.partitionBy(F.lit(1))
    y = (
        daily.withColumn("s_all", F.sum("rev_d").over(wall))
        .withColumn("n_days", F.count(F.lit(1)).over(wall))
        .withColumn("m", F.expr("s_all div n_days"))
        .withColumn("y", F.col("rev_d") - F.col("m"))
        .withColumn("y1", F.lag("y", 1).over(wd))
        .withColumn("y2", F.lag("y", 2).over(wd))
    )
    mom = y.agg(
        F.max("n_days").cast("long").alias("n_days"),
        F.max("m").cast("long").alias("mean_dollars"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("c0"),
        F.sum(F.col("y") * F.col("y1")).cast("long").alias("c1"),
        F.sum(F.col("y") * F.col("y2")).cast("long").alias("c2"),
    )
    r = mom.select(
        "n_days",
        "mean_dollars",
        "c0",
        "c1",
        "c2",
        F.expr("c1 div nullif(c0 div 1000000, 0)").alias("r1_permicro"),
        F.expr("c2 div nullif(c0 div 1000000, 0)").alias("r2_permicro"),
    )
    return r.select(
        "n_days",
        "mean_dollars",
        "c0",
        "c1",
        "c2",
        "r1_permicro",
        "r2_permicro",
        F.expr(
            "r1_permicro * (1000000 - r2_permicro) * 1000000"
            " div nullif(1000000000000 - r1_permicro * r1_permicro, 0)"
        )
        .cast("long")
        .alias("phi1_permicro"),
        F.expr(
            "(r2_permicro * 1000000 - r1_permicro * r1_permicro) * 1000000"
            " div nullif(1000000000000 - r1_permicro * r1_permicro, 0)"
        )
        .cast("long")
        .alias("phi2_permicro"),
    )


_YW_SQL = oracle_bigint(
    """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) // 100 AS rev_d
  FROM orders GROUP BY 1
), centered AS (
  -- stage the windowed mean BEFORE the lag windows: DuckDB rejects a
  -- window function nested inside another window's argument (r9b class)
  SELECT day,
         rev_d - (SUM(rev_d) OVER () // COUNT(*) OVER ()) AS y,
         SUM(rev_d) OVER () // COUNT(*) OVER () AS m,
         COUNT(*) OVER () AS n_days
  FROM daily
), y AS (
  SELECT y, m, n_days,
         LAG(y, 1) OVER (ORDER BY day) AS y1,
         LAG(y, 2) OVER (ORDER BY day) AS y2
  FROM centered
), mom AS (
  SELECT MAX(n_days) AS n_days, MAX(m) AS mean_dollars,
         SUM(y * y) AS c0, SUM(y * y1) AS c1, SUM(y * y2) AS c2
  FROM y
), r AS (
  SELECT *,
         c1 // nullif(c0 // 1000000, 0) AS r1_permicro,
         c2 // nullif(c0 // 1000000, 0) AS r2_permicro
  FROM mom
)
SELECT n_days, mean_dollars, c0, c1, c2, r1_permicro, r2_permicro,
       r1_permicro * (1000000 - r2_permicro) * 1000000
         // nullif(1000000000000 - r1_permicro * r1_permicro, 0)
         AS phi1_permicro,
       (r2_permicro * 1000000 - r1_permicro * r1_permicro) * 1000000
         // nullif(1000000000000 - r1_permicro * r1_permicro, 0)
         AS phi2_permicro
FROM r
""",
    "n_days",
    "mean_dollars",
    "c0",
    "c1",
    "c2",
    "r1_permicro",
    "r2_permicro",
    "phi1_permicro",
    "phi2_permicro",
)

ROUND10_QUERIES["yule_walker_ar2"] = (q_yule_walker_ar2, _YW_SQL)


# ---------------------------------------------------------------------------
# gram_matrix_block — quantized X^T X block over the embedding corpus
# ---------------------------------------------------------------------------

_GRAM_D = 16  # leading block of the 64-dim embedding


def q_gram_matrix_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle block of the corpus Gram matrix X^T X over the
    leading 16 embedding dimensions — the covariance / PCA / linear-
    probe building block beside the registry's power-iteration
    eigenvector (``pca_top_eigenvector``): every Gram cell is a
    map-side outer-product accumulation, the canonical "matrix from a
    corpus" reduction of a training pipeline.

    Determinism: coordinates quantize to integer micros via
    ``floor(v·1e6 + 0.5)`` — floor is exact on doubles in both engines
    (no round() half-mode divergence) and float32→float64 widening is
    exact — so every product and sum is exact int64 (|q| ≤ ~1e6 ⇒
    cell sums < 2^63 through sf10).

    Scale design: the per-row pair expansion (136 products) happens
    MAP-SIDE inside one combinable aggregation keyed by (i, j) — the
    shuffle carries at most d(d+1)/2 = 136 partial rows per map
    partition, never the corpus.  The full 64-dim Gram runs as 16
    such blocks (block-partitioned Gram), each the same bounded
    shuffle; at 100 TB the Arrow-vectorized ``pandas_udf`` form of the
    same per-row expansion (precedent: similarity.cosine_fold_pd)
    replaces the interpreted HOF without changing the plan shape.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    q = emb.select(
        F.expr(
            f"transform(slice(embedding, 1, {_GRAM_D}),"
            " v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
        ).alias("qs")
    )
    pairs = q.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(0, {_GRAM_D - 1}), i ->"
                f" transform(sequence(i, {_GRAM_D - 1}), j ->"
                " struct(i, j, qs[i] * qs[j] AS p))))"
            )
        ).alias("c")
    )
    return (
        pairs.select("c.i", "c.j", "c.p")
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("p").cast("long").alias("gram"),
        )
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "n_vecs",
            "gram",
        )
        .orderBy("i", "j")
    )


_GRAM_SQL = oracle_bigint(
    f"""
WITH q AS (
  SELECT vec_id, u.i AS i,
         CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS qv
  FROM embeddings, LATERAL unnest(generate_series(0, {_GRAM_D - 1})) u(i)
)
SELECT a.i AS i, b.i AS j, COUNT(*) AS n_vecs, SUM(a.qv * b.qv) AS gram
FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY 1, 2
ORDER BY i, j
""",
    "i",
    "j",
    "n_vecs",
    "gram",
)

ROUND10_QUERIES["gram_matrix_block"] = (q_gram_matrix_block, _GRAM_SQL)


# ---------------------------------------------------------------------------
# mutual_information_discount_return — plug-in MI over the joint table
# ---------------------------------------------------------------------------


def q_mutual_information_discount_return(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Plug-in mutual information between the discount bucket (integer
    percent, 11 values) and the return flag (3 values) — the
    information-theoretic dependence measure beside the registry's
    chi-square contingency test (``chi2_returns_status``), and the
    same cell machinery a feature-selection pass ranks columns with.

    Per-cell pointwise MI routes ln through the repo's transcendental
    rule: the probability ratio is formed as ONE double expression
    over exact integer counts ((n_xy·N)/(n_x·n_y) — identical IEEE
    steps in both engines), its ln quantizes to integer NANOS
    immediately via floor(ln·1e9 + 0.5) — floor-plus-half, not
    round(), because Spark rounds HALF_UP while DuckDB rounds to
    nearest-even, and the halfway tie would flip the nano by 1
    between engines — and everything after is int64: the
    cell term is n_xy·pmi_nano and MI·1e9 = Σ terms div N (products
    ≤ 6e5·3.5e9 ≈ 2e15 at sf0.1).

    Scale design: ONE combinable groupBy to the 33-cell joint table;
    margins and the MI total are windows over those 33 rows — the
    shuffle carries cells, never fact rows, at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").alias(
            "discount_pct"
        ),
        F.col("l_returnflag").alias("returnflag"),
    )
    cells = li.groupBy("discount_pct", "returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_xy")
    )
    wx = Window.partitionBy("discount_pct")
    wy = Window.partitionBy("returnflag")
    # bounded: 11x3 discount-x-returnflag cell grid (33 rows)
    wall = Window.partitionBy(F.lit(1))
    scored = (
        cells.withColumn("n_x", F.sum("n_xy").over(wx))
        .withColumn("n_y", F.sum("n_xy").over(wy))
        .withColumn("n_all", F.sum("n_xy").over(wall))
        .withColumn(
            "pmi_nano",
            F.floor(
                F.log(
                    (F.col("n_xy").cast("double") * F.col("n_all").cast("double"))
                    / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
                )
                * F.lit(1_000_000_000.0)
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    return (
        scored.withColumn(
            "mi_nano",
            # bounded: the OVER () runs on the 33-cell grid, never fact rows
            F.expr("sum(n_xy * pmi_nano) OVER () div n_all").cast("long"),
        )
        .select("discount_pct", "returnflag", "n_xy", "pmi_nano", "mi_nano")
        .orderBy("discount_pct", "returnflag")
    )


_MI_SQL = oracle_bigint(
    """
WITH cells AS (
  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS discount_pct,
         l_returnflag AS returnflag, COUNT(*) AS n_xy
  FROM lineitem GROUP BY 1, 2
), m AS (
  SELECT discount_pct, returnflag, n_xy,
         SUM(n_xy) OVER (PARTITION BY discount_pct) AS n_x,
         SUM(n_xy) OVER (PARTITION BY returnflag) AS n_y,
         SUM(n_xy) OVER () AS n_all
  FROM cells
), scored AS (
  SELECT discount_pct, returnflag, n_xy, n_all,
         CAST(floor(ln((CAST(n_xy AS DOUBLE) * CAST(n_all AS DOUBLE))
                       / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))
                    * 1000000000 + 0.5) AS BIGINT) AS pmi_nano
  FROM m
)
SELECT discount_pct, returnflag, n_xy, pmi_nano,
       SUM(n_xy * pmi_nano) OVER () // n_all AS mi_nano
FROM scored
ORDER BY discount_pct, returnflag
""",
    "discount_pct",
    "n_xy",
    "pmi_nano",
    "mi_nano",
)

ROUND10_QUERIES["mutual_information_discount_return"] = (
    q_mutual_information_discount_return,
    _MI_SQL,
)


# ---------------------------------------------------------------------------
# good_turing_smoothing — frequency-of-frequencies count re-estimation
# ---------------------------------------------------------------------------

_GT_MAX_R = 30


def q_good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing re-estimated BIGRAM counts from the corpus'
    frequency-of-frequencies — the classic count-smoothing step of an
    n-gram LM build (the Turing estimate r* = (r+1)·N_{r+1}/N_r),
    completing the registry's LM ladder beside Kneser-Ney continuation
    counts and the unigram log-prob scorer.  Also emits the Good-Turing
    unseen-mass estimate p0 = N_1/N — the probability mass a smoothed
    LM reserves for unseen n-grams.  Bigrams, not unigrams: this
    corpus' unigram vocabulary is small and dense (every token ≈ 900
    occurrences), so only the quadratically sparser bigram table has
    the low-count head Good-Turing exists to smooth.

    All-integer: counts are exact, r*·1000 = (r+1)·N_{r+1}·1000 div
    N_r (0 where N_{r+1} is absent — the raw-count fallback a real
    smoother switches to at high r), p0·1e6 = N_1·1e6 div N.  Reported
    for r ≤ 30, where the frequency-of-frequencies is dense.

    Scale design: bigram extraction is map-side (an indexed transform
    over the per-doc token array — no self-join, no explode-then-
    window); counting is the standard two-level combinable rollup
    ((bigram) then (r)); the frequency-of-frequencies frame is tiny at
    any corpus size, and the r → r+1 lookup is a self-join on that
    tiny frame.  Tokenizer matches the corpus-wide convention
    (``text.tokens`` / regexp_split on whitespace of lowercased text).
    """
    from etl_portofolio_spark.operators import text

    docs = load_table(spark, sf_dir, "documents").select(
        text.tokens("text").alias("toks")
    )
    # two-param transform lambda receives (element, index); toks is a
    # materialized column, so the per-element lookup is O(1) (r1 HOF rule);
    # greatest(.., 0) keeps an empty token array from a negative slice length
    bigrams = docs.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " (t, i) -> concat(t, ' ', toks[i + 1]))"
            )
        ).alias("tok")
    )
    counts = bigrams.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("r")
    )
    fof = counts.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    nxt = fof.select(
        (F.col("r") - 1).alias("r_prev"), F.col("n_r").alias("n_r_next")
    )
    # bounded: frequency-of-frequencies frame (r <= ~1e3 distinct counts)
    wall = Window.partitionBy(F.lit(1))
    joined = (
        fof.join(nxt, fof.r == nxt.r_prev, "left")
        .withColumn("total_tokens", F.sum(F.col("r") * F.col("n_r")).over(wall))
        .withColumn(
            "n_1", F.max(F.when(F.col("r") == 1, F.col("n_r"))).over(wall)
        )
    )
    return (
        joined.where(F.col("r") <= _GT_MAX_R)
        .select(
            "r",
            "n_r",
            F.expr(
                "coalesce((r + 1) * n_r_next * 1000 div n_r, 0)"
            )
            .cast("long")
            .alias("r_star_permille"),
            F.expr("n_1 * 1000000 div total_tokens")
            .cast("long")
            .alias("p0_permicro"),
        )
        .orderBy("r")
    )


_GT_SQL = oracle_bigint(
    f"""
WITH tarr AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
), toks AS (
  SELECT toks[u.i] || ' ' || toks[u.i + 1] AS tok
  FROM tarr, LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)
), counts AS (
  SELECT tok, COUNT(*) AS r FROM toks GROUP BY 1
), fof AS (
  SELECT r, COUNT(*) AS n_r FROM counts GROUP BY 1
), tot AS (
  SELECT SUM(r * n_r) AS total_tokens,
         MAX(CASE WHEN r = 1 THEN n_r END) AS n_1
  FROM fof
)
SELECT f.r, f.n_r,
       COALESCE((f.r + 1) * nx.n_r * 1000 // f.n_r, 0) AS r_star_permille,
       tot.n_1 * 1000000 // tot.total_tokens AS p0_permicro
FROM fof f LEFT JOIN fof nx ON nx.r = f.r + 1 CROSS JOIN tot
WHERE f.r <= {_GT_MAX_R}
ORDER BY f.r
""",
    "r",
    "n_r",
    "r_star_permille",
    "p0_permicro",
)

ROUND10_QUERIES["good_turing_smoothing"] = (q_good_turing_smoothing, _GT_SQL)


# ---------------------------------------------------------------------------
# cohens_kappa_heuristics — annotator agreement between two raters
# ---------------------------------------------------------------------------


def q_cohens_kappa_heuristics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two document 'raters' — the
    chance-corrected agreement score every labeling pipeline reports
    before trusting annotations (here two deterministic quality
    heuristics playing the raters: rater A flags docs at or above the
    corpus median CHARACTER length, rater B at or above the median
    whitespace-token COUNT).

    All-integer: both thresholds use the doubled-median trick (2·median
    of integers is an exact BIGINT; flag = 2x ≥ 2·median), the 2×2
    agreement table is exact counts, and kappa·1e6 =
    (N·agree − Σ marginal products)·1e6 div (N² − Σ marginal products)
    — int64 through sf1 (N²·1e6 ≈ 2.5e15 at 50k docs), nullif-guarded
    against the degenerate all-one-cell table.

    Scale design: ONE pass computes both rating columns (the token
    count is a map-side size(split), no explode); the two global
    medians reduce over bounded value domains (at 100 TB: count-by-
    value rollups), and the 2×2 table is a single combinable
    aggregation — no shuffle ever carries more than the cell counts.
    """
    from etl_portofolio_spark.operators import text

    from etl_portofolio_spark.caching import scoped_persist

    # the rated frame feeds BOTH the threshold pass and the 2x2 table
    # pass; persist so the corpus (and its tokenization) scans once
    docs = scoped_persist(
        load_table(spark, sf_dir, "documents").select(
            F.col("n_chars").cast("long").alias("nc"),
            text.token_count_ws("text").cast("long").alias("wc"),
        )
    )
    thr = docs.agg(
        F.expr("CAST(2 * percentile(nc, 0.5) AS BIGINT)").alias("thr_nc2"),
        F.expr("CAST(2 * percentile(wc, 0.5) AS BIGINT)").alias("thr_wc2"),
    )
    flags = docs.crossJoin(F.broadcast(thr)).select(
        (F.expr("2 * nc") >= F.col("thr_nc2")).cast("long").alias("a"),
        (F.expr("2 * wc") >= F.col("thr_wc2")).cast("long").alias("b"),
    )
    tab = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr("a * b")).cast("long").alias("n11"),
        F.sum(F.expr("a * (1 - b)")).cast("long").alias("n10"),
        F.sum(F.expr("(1 - a) * b")).cast("long").alias("n01"),
        F.sum(F.expr("(1 - a) * (1 - b)")).cast("long").alias("n00"),
    )
    return tab.select(
        "n_docs",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("(n11 + n00) * 1000 div n_docs").cast("long").alias("po_permille"),
        F.expr(
            "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
            " * 1000 div (n_docs * n_docs)"
        )
        .cast("long")
        .alias("pe_permille"),
        F.expr(
            "(n_docs * (n11 + n00)"
            " - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))"
            " * 1000000 div nullif(n_docs * n_docs"
            " - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)), 0)"
        )
        .cast("long")
        .alias("kappa_permicro"),
    )


_KAPPA_SQL = oracle_bigint(
    """
WITH docs AS (
  SELECT CAST(n_chars AS BIGINT) AS nc,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
              AS BIGINT) AS wc
  FROM documents
), thr AS (
  SELECT CAST(2 * median(nc) AS BIGINT) AS thr_nc2,
         CAST(2 * median(wc) AS BIGINT) AS thr_wc2
  FROM docs
), flags AS (
  SELECT CASE WHEN 2 * d.nc >= t.thr_nc2 THEN 1 ELSE 0 END AS a,
         CASE WHEN 2 * d.wc >= t.thr_wc2 THEN 1 ELSE 0 END AS b
  FROM docs d CROSS JOIN thr t
), tab AS (
  SELECT COUNT(*) AS n_docs,
         SUM(a * b) AS n11, SUM(a * (1 - b)) AS n10,
         SUM((1 - a) * b) AS n01, SUM((1 - a) * (1 - b)) AS n00
  FROM flags
)
SELECT n_docs, n11, n10, n01, n00,
       (n11 + n00) * 1000 // n_docs AS po_permille,
       ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
         * 1000 // (n_docs * n_docs) AS pe_permille,
       (n_docs * (n11 + n00)
        - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
         * 1000000 // nullif(n_docs * n_docs
        - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)), 0)
         AS kappa_permicro
FROM tab
""",
    "n_docs",
    "n11",
    "n10",
    "n01",
    "n00",
    "po_permille",
    "pe_permille",
    "kappa_permicro",
)

ROUND10_QUERIES["cohens_kappa_heuristics"] = (
    q_cohens_kappa_heuristics,
    _KAPPA_SQL,
)
