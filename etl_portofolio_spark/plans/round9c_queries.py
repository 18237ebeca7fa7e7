"""Round-9c query wave — operations-analytics and ML-training
mechanics still absent from the registry: SRE error-budget burn with
the multiwindow alert policy, session entry/exit/bounce census,
receivables-style order aging, weight-of-evidence scoring bins, the
Mann–Kendall trend test (the significance twin of the registry's
Theil–Sen slope), exact Gini decision-stump splits, triangle support /
k-truss membership per edge, a leakage-safe churn label builder,
quantized embedding centroid drift, and step-indexed session
transitions.

Each entry: name -> (builder(spark, sf_dir) -> DataFrame, DuckDB oracle
SQL).  Determinism contract as the other waves: integer arithmetic on
every filter/rank/hash-path value; unavoidable doubles are computed
once per bounded group from exact integer accumulators with one shared
expression tree, then rounded (``stats_corr_exact`` discipline).

Scale theme of the wave: CALENDAR- AND DOMAIN-BOUNDED PANELS.  Every
query's post-shuffle state is bounded by days, sessions-per-user,
feature domains (≤50 thresholds), label or brand domains — the fact
tables are touched by exactly one combinable pass each.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.plans.analytics_queries import cents
from etl_portofolio_spark.plans.oracle_types import oracle_bigint

ROUND9C_QUERIES: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {}


# ---------------------------------------------------------------------------
# error_budget_burn — SRE multiwindow burn-rate alerting
# ---------------------------------------------------------------------------

#: error budget: 220 permille (the fixture's error rate hovers ~200‰,
#: so burn crosses 1.0 on genuinely bad days, not everywhere)
_BUDGET_PERMILLE = 220
_BURN_LONG_DAYS = 7


def q_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn rate with the multiwindow alert policy:
    per day, the 1-day and trailing-7-day error rates divided by a
    220‰ budget, alerting only when BOTH windows burn above 1× — the
    short window proves the problem is current, the long window
    proves it is material (one bad minute cannot page, one bad week
    cannot hide).  Burn is permille by integer div:
    ``(1e6 · errors) div (budget · total)``.

    Scale design: one combinable daily rollup of the event stream;
    both burn windows are rows-frames over the calendar-bounded daily
    panel (the registry's ewma/trailing-revenue discipline), so
    nothing after the first shuffle grows with data.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        (F.col("event_type") == "error").cast("long").alias("is_err"),
    )
    daily = ev.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("is_err").cast("long").alias("err"),
    )
    w7 = Window.orderBy("day").rowsBetween(-(_BURN_LONG_DAYS - 1), 0)
    rolled = daily.select(
        "day",
        "n",
        "err",
        F.sum("n").over(w7).cast("long").alias("n7"),
        F.sum("err").over(w7).cast("long").alias("err7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("days7"),
    )
    burn = lambda e, t: F.expr(  # noqa: E731
        f"(1000000 * {e}) div ({_BUDGET_PERMILLE} * {t})"
    ).cast("long")
    return (
        rolled.where(F.col("days7") == _BURN_LONG_DAYS)
        .select(
            "day",
            "n",
            "err",
            burn("err", "n").alias("burn_1d_permille"),
            burn("err7", "n7").alias("burn_7d_permille"),
            (
                (burn("err", "n") >= 1000) & (burn("err7", "n7") >= 1000)
            ).alias("page_alert"),
        )
        .orderBy("day")
    )


_BURN_SQL = oracle_bigint(
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS err
  FROM events GROUP BY 1
), rolled AS (
  SELECT day, n, err,
         CAST(SUM(n) OVER w AS BIGINT) AS n7,
         CAST(SUM(err) OVER w AS BIGINT) AS err7,
         COUNT(*) OVER w AS days7
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {_BURN_LONG_DAYS - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT day, n, err,
       (1000000 * err) // ({_BUDGET_PERMILLE} * n) AS burn_1d_permille,
       (1000000 * err7) // ({_BUDGET_PERMILLE} * n7) AS burn_7d_permille,
       (1000000 * err) // ({_BUDGET_PERMILLE} * n) >= 1000
         AND (1000000 * err7) // ({_BUDGET_PERMILLE} * n7) >= 1000
         AS page_alert
FROM rolled WHERE days7 = {_BURN_LONG_DAYS}
ORDER BY day
""",
    "burn_1d_permille",
    "burn_7d_permille",
)

ROUND9C_QUERIES["error_budget_burn"] = (q_error_budget_burn, _BURN_SQL)


# ---------------------------------------------------------------------------
# session_entry_exit_report — entry/exit/bounce census per event type
# ---------------------------------------------------------------------------

_SESS_GAP_S = 1800


def _sessions_with_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with (user, session id, step index) — 30-min gap islands,
    step order (ts, event_id) for a deterministic within-tie order."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev = F.lag("ts").over(w)
    is_new = (
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > _SESS_GAP_S)
    ).cast("long")
    return (
        ev.withColumn("__new", is_new)
        .withColumn(
            "sid",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("step", F.row_number().over(
            Window.partitionBy("user_id", "sid").orderBy(
                F.col("ts").asc(), F.col("event_id").asc()
            )
        ))
    )


#: DuckDB twin of the sessionized step frame (shared by two oracles)
_SESS_STEP_SQL = f"""
flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                      > {_SESS_GAP_S}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), stepped AS (
  SELECT user_id, event_type, sid,
         ROW_NUMBER() OVER (PARTITION BY user_id, sid
                            ORDER BY ts ASC, event_id ASC) AS step,
         COUNT(*) OVER (PARTITION BY user_id, sid) AS sess_n
  FROM numbered
)
"""


def q_session_entry_exit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing/exit analysis: for each event type, how many sessions
    ENTER on it, EXIT on it, and BOUNCE on it (single-event sessions)
    — the census behind every landing-page report, built on the
    engine's gap-sessionization with a (ts, event_id) order key so
    tie rows classify identically in both engines.

    Scale design: one user-keyed shuffle sessionizes (the sessionize
    discipline — two window passes share one sort); entry/exit flags
    are per-row comparisons against windowed step counts; the census
    is a combinable aggregate on the 5-value type key.
    """
    stepped = _sessions_with_steps(spark, sf_dir).withColumn(
        "sess_n",
        F.count(F.lit(1)).over(Window.partitionBy("user_id", "sid")),
    )
    return (
        stepped.groupBy("event_type")
        .agg(
            F.sum((F.col("step") == 1).cast("long")).cast("long").alias(
                "n_entries"
            ),
            F.sum((F.col("step") == F.col("sess_n")).cast("long"))
            .cast("long")
            .alias("n_exits"),
            F.sum(
                ((F.col("step") == 1) & (F.col("sess_n") == 1)).cast("long")
            )
            .cast("long")
            .alias("n_bounces"),
        )
        .orderBy("event_type")
    )


_ENTRY_EXIT_SQL = oracle_bigint(
    f"""
WITH {_SESS_STEP_SQL}
SELECT event_type,
       SUM(CASE WHEN step = 1 THEN 1 ELSE 0 END) AS n_entries,
       SUM(CASE WHEN step = sess_n THEN 1 ELSE 0 END) AS n_exits,
       SUM(CASE WHEN step = 1 AND sess_n = 1 THEN 1 ELSE 0 END) AS n_bounces
FROM stepped
GROUP BY event_type
ORDER BY event_type
""",
    "n_entries",
    "n_exits",
    "n_bounces",
)

ROUND9C_QUERIES["session_entry_exit_report"] = (
    q_session_entry_exit_report,
    _ENTRY_EXIT_SQL,
)


# ---------------------------------------------------------------------------
# order_aging_buckets — receivables-style aging report
# ---------------------------------------------------------------------------

_AGING_EDGES = (30, 60, 90)


def q_order_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging: outstanding ('O'-status) order value bucketed
    by age against the dataset's as-of date (0–30 / 31–60 / 61–90 /
    90+ days) — the AR-aging shape every finance close runs.  The
    as-of date is the max order date folded in as a broadcast 1-row
    frame (no driver action); shares are permille by integer div.

    Scale design: one fact pass with the status filter pushed to the
    scan; the bucket key is a 4-value CASE, so the aggregate is
    map-side combinable; totals fold back via a second broadcast
    cross-join of the 4-row panel's own rollup.
    """
    orders = load_table(spark, sf_dir, "orders")
    asof = orders.agg(F.max(F.to_date("o_orderdate")).alias("asof"))
    open_o = orders.where(F.col("o_orderstatus") == "O").select(
        F.to_date("o_orderdate").alias("od"),
        cents("o_totalprice").alias("val_c"),
    )
    e1, e2, e3 = _AGING_EDGES
    aged = open_o.crossJoin(F.broadcast(asof)).select(
        F.when(F.datediff("asof", "od") <= e1, "00-30")
        .when(F.datediff("asof", "od") <= e2, "31-60")
        .when(F.datediff("asof", "od") <= e3, "61-90")
        .otherwise("90+")
        .alias("age_bucket"),
        "val_c",
    )
    per = aged.groupBy("age_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("val_c").cast("long").alias("value_c"),
    )
    tot = per.agg(F.sum("value_c").cast("long").alias("tot_c"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "age_bucket",
            "n_orders",
            "value_c",
            F.expr("(1000 * value_c) div tot_c").cast("long").alias(
                "share_permille"
            ),
        )
        .orderBy("age_bucket")
    )


_AGING_SQL = oracle_bigint(
    f"""
WITH as_of AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) AS as_of_day FROM orders
), aged AS (
  SELECT CASE
           WHEN DATEDIFF('day', CAST(o_orderdate AS DATE), as_of_day)
                <= {_AGING_EDGES[0]} THEN '00-30'
           WHEN DATEDIFF('day', CAST(o_orderdate AS DATE), as_of_day)
                <= {_AGING_EDGES[1]} THEN '31-60'
           WHEN DATEDIFF('day', CAST(o_orderdate AS DATE), as_of_day)
                <= {_AGING_EDGES[2]} THEN '61-90'
           ELSE '90+' END AS age_bucket,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS val_c
  FROM orders CROSS JOIN as_of
  WHERE o_orderstatus = 'O'
), per AS (
  SELECT age_bucket, COUNT(*) AS n_orders,
         CAST(SUM(val_c) AS BIGINT) AS value_c
  FROM aged GROUP BY age_bucket
), tot AS (
  SELECT CAST(SUM(value_c) AS BIGINT) AS tot_c FROM per
)
SELECT age_bucket, n_orders, value_c,
       (1000 * value_c) // tot_c AS share_permille
FROM per CROSS JOIN tot
ORDER BY age_bucket
""",
    "value_c",
    "share_permille",
)

ROUND9C_QUERIES["order_aging_buckets"] = (q_order_aging_buckets, _AGING_SQL)


# ---------------------------------------------------------------------------
# woe_information_value — weight-of-evidence scoring bins
# ---------------------------------------------------------------------------

#: shared IEEE trees: WOE = ln(g·B) − ln(b·G) (arguments are exact
#: integers < 2^53, so the doubles entering ln are identical), IV
#: contribution = (g/G − b/B)·WOE
_WOE_EXPR = (
    "round(ln(CAST(g * gtot_b AS DOUBLE)) - ln(CAST(b * gtot_g AS DOUBLE)), 6)"
)
_IV_EXPR = (
    "round((CAST(g AS DOUBLE) / CAST(gtot_g AS DOUBLE)"
    " - CAST(b AS DOUBLE) / CAST(gtot_b AS DOUBLE))"
    " * (ln(CAST(g * gtot_b AS DOUBLE)) - ln(CAST(b * gtot_g AS DOUBLE))), 6)"
)


def q_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value scoring bins — the
    credit-risk feature diagnostic the registry's PSI/KL entries don't
    cover: per discount bin, WOE = ln(good-share / bad-share)
    (bad = returned line) and its IV contribution; ΣIV is the classic
    "is this feature worth binning" number.

    WOE's ln arguments are the exact integer cross-products ``g·B``
    and ``b·G`` (both < 2^53, so the DOUBLE conversions are exact and
    identical in both engines); WOE and IV evaluate once per bin from
    one shared tree, rounded to 6 (the zipf ln discipline).

    Scale design: one fact pass to an 11-bin count panel; corpus
    totals fold in via a broadcast 1-row frame.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        cents("l_discount", 3).alias("bin"),
        (F.col("l_returnflag") == "R").cast("long").alias("is_bad"),
    )
    bins = li.groupBy("bin").agg(
        F.sum(1 - F.col("is_bad")).cast("long").alias("g"),
        F.sum("is_bad").cast("long").alias("b"),
    )
    tot = li.agg(
        F.sum(1 - F.col("is_bad")).cast("long").alias("gtot_g"),
        F.sum("is_bad").cast("long").alias("gtot_b"),
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "g",
            "b",
            F.expr(_WOE_EXPR).alias("woe"),
            F.expr(_IV_EXPR).alias("iv_contrib"),
        )
        .orderBy("bin")
    )


_WOE_SQL = oracle_bigint(
    f"""
WITH li AS (
  SELECT CAST(round(l_discount * 1000, 0) AS BIGINT) AS bin,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_bad
  FROM lineitem
), bins AS (
  SELECT bin, CAST(SUM(1 - is_bad) AS BIGINT) AS g,
         CAST(SUM(is_bad) AS BIGINT) AS b
  FROM li GROUP BY bin
), tot AS (
  SELECT CAST(SUM(1 - is_bad) AS BIGINT) AS gtot_g,
         CAST(SUM(is_bad) AS BIGINT) AS gtot_b
  FROM li
)
SELECT bin, g, b,
       {_WOE_EXPR} AS woe,
       {_IV_EXPR} AS iv_contrib
FROM bins CROSS JOIN tot
ORDER BY bin
""",
    "g",
    "b",
)

ROUND9C_QUERIES["woe_information_value"] = (
    q_woe_information_value,
    _WOE_SQL,
)


# ---------------------------------------------------------------------------
# mann_kendall_trend — exact S statistic + tie-corrected variance
# ---------------------------------------------------------------------------

#: shared z tree: z = (S − sign(S)) / sqrt(var18 / 18)
_MK_Z = (
    "round((CAST(s AS DOUBLE) - CAST(sgn AS DOUBLE))"
    " / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6)"
)


def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on daily revenue — the non-parametric
    significance twin of ``theilsen_revenue_trend``: S counts
    concordant-minus-discordant day pairs (an exact integer), the
    variance carries the exact tie correction
    ``n(n−1)(2n+5) − Σ t(t−1)(2t+5)`` scaled by 18, and only the
    final z-score is a double (one shared tree, continuity-corrected).

    Scale design: the fact table reduces to a calendar-bounded daily
    panel in one combinable pass; the pair census is a self-join of
    that BROADCAST panel (days × days stays trivially small at any
    fact scale — the pairs never touch fact rows); tie groups are a
    grouped count on the revenue value.
    """
    from etl_portofolio_spark.caching import scoped_persist

    li = load_table(spark, sf_dir, "lineitem").select(
        F.to_date("l_shipdate").alias("day"),
        cents("l_extendedprice").alias("rev_c"),
    )
    # daily panel persisted: the pair census, n, and the tie census all
    # read it — unpersisted, the fact rollup would replay 4×
    daily = scoped_persist(
        li.groupBy("day").agg(F.sum("rev_c").cast("long").alias("v"))
    )
    a = daily.select(F.col("day").alias("d1"), F.col("v").alias("v1"))
    b = daily.select(F.col("day").alias("d2"), F.col("v").alias("v2"))
    s_frame = (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .agg(
            F.sum(
                F.when(F.col("v2") > F.col("v1"), 1)
                .when(F.col("v2") < F.col("v1"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    nrow = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        daily.groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    return (
        s_frame.crossJoin(F.broadcast(nrow))
        .crossJoin(F.broadcast(ties))
        .select(
            "n",
            "s",
            F.expr("n * (n - 1) * (2 * n + 5) - tie_term")
            .cast("long")
            .alias("var18"),
            F.expr("CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END")
            .cast("long")
            .alias("sgn"),
        )
        .select("n", "s", "var18", F.expr(_MK_Z).alias("z_score"))
    )


_MK_SQL = oracle_bigint(
    f"""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
         CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS v
  FROM lineitem GROUP BY 1
), s_frame AS (
  SELECT CAST(SUM(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.day < b.day
), nrow AS (
  SELECT COUNT(*) AS n FROM daily
), ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY v) WHERE t > 1
), folded AS (
  SELECT n, s,
         n * (n - 1) * (2 * n + 5) - tie_term AS var18,
         CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END AS sgn
  FROM s_frame CROSS JOIN nrow CROSS JOIN ties
)
SELECT n, s, var18, {_MK_Z} AS z_score
FROM folded
""",
    "n",
    "s",
    "var18",
)

ROUND9C_QUERIES["mann_kendall_trend"] = (q_mann_kendall_trend, _MK_SQL)


# ---------------------------------------------------------------------------
# decision_stump_split — exact Gini best split per feature
# ---------------------------------------------------------------------------

#: shared weighted-Gini tree: every input (al, ar, tl, tr, nt) is an
#: exact integer < 2^53, the doubles entering the tree are identical
_STUMP_GINI = (
    "round((CAST(nt AS DOUBLE)"
    " - (CAST(al AS DOUBLE) / CAST(tl AS DOUBLE)"
    "    + CAST(ar AS DOUBLE) / CAST(tr AS DOUBLE)))"
    " / CAST(nt AS DOUBLE), 6)"
)


def q_decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The node-split search inside every distributed decision-tree
    learner, as a query: for three integer features (quantity,
    discount permille, part size) find the threshold ``x <= v`` that
    minimizes weighted Gini impurity predicting line returns.  The
    search runs on per-feature value HISTOGRAMS with cumulative
    windows — the exact mechanic XGBoost/LightGBM's approx split
    finder uses (theirs sketches the histogram; these domains are
    ≤101 values, so exact is free).

    All split statistics (t/pos per side via prefix sums) are exact
    integers; the weighted Gini evaluates once per candidate from one
    shared tree and the argmin ranks on the ROUNDED score with the
    threshold as tie-break (the mrr ranking discipline).

    Scale design: one melt pass over lineitem builds two feature
    histograms (map-side stack, one shuffle on the ≤151-cell
    (feature, value) domain); the size feature joins the broadcast
    part dim; cumulative windows partition per feature over bounded
    domains.  At 100 TB only histograms ever shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        cents("l_quantity", 0).alias("qty"),
        cents("l_discount", 3).alias("disc"),
        (F.col("l_returnflag") == "R").cast("long").alias("is_bad"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_size")
    melted = li.select(
        F.explode(
            F.expr(
                "array(struct('qty' AS feature, qty AS v),"
                " struct('disc' AS feature, disc AS v))"
            )
        ).alias("fv"),
        "is_bad",
    ).select("fv.feature", "fv.v", "is_bad")
    sized = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.lit("size").alias("feature"),
        F.col("p_size").cast("long").alias("v"),
        "is_bad",
    )
    hist = (
        melted.unionByName(sized)
        .groupBy("feature", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("is_bad").cast("long").alias("pos"),
        )
    )
    wcum = (
        Window.partitionBy("feature")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("feature")
    cand = hist.select(
        "feature",
        "v",
        F.sum("n").over(wcum).alias("tl"),
        F.sum("pos").over(wcum).alias("posl"),
        F.sum("n").over(wtot).alias("nt"),
        F.sum("pos").over(wtot).alias("pt"),
    ).where(F.col("tl") < F.col("nt"))
    scored = cand.select(
        "feature",
        "v",
        "tl",
        "posl",
        "nt",
        (F.col("nt") - F.col("tl")).alias("tr"),
        (F.col("pt") - F.col("posl")).alias("posr"),
    ).select(
        "feature",
        "v",
        "tl",
        "posl",
        "nt",
        (
            F.col("posl") * F.col("posl")
            + (F.col("tl") - F.col("posl")) * (F.col("tl") - F.col("posl"))
        ).alias("al"),
        (
            F.col("posr") * F.col("posr")
            + (F.col("tr") - F.col("posr")) * (F.col("tr") - F.col("posr"))
        ).alias("ar"),
        "tr",
    )
    ranked = scored.select(
        "feature",
        "v",
        "tl",
        "posl",
        F.expr(_STUMP_GINI).alias("gini_weighted"),
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("feature").orderBy(
                F.asc("gini_weighted"), F.asc("v")
            )
        ),
    )
    return (
        ranked.where(F.col("rk") == 1)
        .select(
            "feature",
            F.col("v").alias("split_at"),
            F.col("tl").alias("n_left"),
            F.col("posl").alias("pos_left"),
            "gini_weighted",
        )
        .orderBy("feature")
    )


_STUMP_SQL = oracle_bigint(
    f"""
WITH li AS (
  SELECT l_partkey,
         CAST(round(l_quantity, 0) AS BIGINT) AS qty,
         CAST(round(l_discount * 1000, 0) AS BIGINT) AS disc,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_bad
  FROM lineitem
), melted AS (
  SELECT 'qty' AS feature, qty AS v, is_bad FROM li
  UNION ALL
  SELECT 'disc' AS feature, disc AS v, is_bad FROM li
  UNION ALL
  SELECT 'size' AS feature, CAST(p.p_size AS BIGINT) AS v, li.is_bad
  FROM li JOIN part p ON li.l_partkey = p.p_partkey
), hist AS (
  SELECT feature, v, COUNT(*) AS n, CAST(SUM(is_bad) AS BIGINT) AS pos
  FROM melted GROUP BY feature, v
), cand AS (
  SELECT feature, v,
         CAST(SUM(n) OVER wc AS BIGINT) AS tl,
         CAST(SUM(pos) OVER wc AS BIGINT) AS posl,
         CAST(SUM(n) OVER wt AS BIGINT) AS nt,
         CAST(SUM(pos) OVER wt AS BIGINT) AS pt
  FROM hist
  WINDOW wc AS (PARTITION BY feature ORDER BY v ROWS UNBOUNDED PRECEDING),
         wt AS (PARTITION BY feature)
), scored AS (
  SELECT feature, v, tl, posl, nt,
         posl * posl + (tl - posl) * (tl - posl) AS al,
         (pt - posl) * (pt - posl)
           + ((nt - tl) - (pt - posl)) * ((nt - tl) - (pt - posl)) AS ar,
         nt - tl AS tr
  FROM cand WHERE tl < nt
), ranked AS (
  SELECT feature, v, tl, posl,
         {_STUMP_GINI} AS gini_weighted,
         ROW_NUMBER() OVER (PARTITION BY feature
                            ORDER BY {_STUMP_GINI} ASC, v ASC) AS rk
  FROM scored
)
SELECT feature, v AS split_at, tl AS n_left, posl AS pos_left, gini_weighted
FROM ranked WHERE rk = 1
ORDER BY feature
""",
    "split_at",
    "n_left",
    "pos_left",
)

ROUND9C_QUERIES["decision_stump_split"] = (q_decision_stump_split, _STUMP_SQL)


# ---------------------------------------------------------------------------
# edge_triangle_support — per-edge triangle counts / k-truss membership
# ---------------------------------------------------------------------------

_TRUSS_NUM = 22  # sparsification: co >= n*22 div 1000 + 1 (~median pair support)


def q_edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EDGE triangle support and k-truss membership over the
    strong co-purchase graph — ``brand_triangle_count`` counts the
    graph's triangles; this locates them: an edge inside many
    triangles is community glue (k-truss keeps edges with ≥ k−2
    triangles), an edge in none is likely noise.  Same integer
    sparsification threshold as ``weighted_shortest_path``
    (integer permille ratio — the round-vs-truncate lesson), tuned to
    the median pair support so roughly half the pairs survive and the
    truss hierarchy is non-trivial (at 4‰ the graph was complete).

    Scale design: baskets reduce to sorted brand arrays in one
    fact-scale shuffle; pairs expand map-side; the edge list is
    domain-bounded (≤C(25,2)) so the triangle join is
    broadcast-vs-broadcast; counts are exact integers.
    """
    from etl_portofolio_spark.caching import scoped_persist

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # spread_by(l_orderkey): parallelize the one-row-group test scan's
    # broadcast probe + basket partial aggregation; the keyed exchange
    # already satisfies the groupBy (no-op at production split counts)
    from etl_portofolio_spark.operators.util import spread_by

    sets = scoped_persist(
        spread_by(li, "l_orderkey")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("sb"))
    )
    nb = sets.agg(F.count(F.lit(1)).alias("n"))
    pair_expr = (
        "flatten(transform(sb, (x, i) -> "
        "transform(slice(sb, i + 2, size(sb)), "
        "y -> struct(x AS a, y AS b))))"
    )
    edges = scoped_persist(
        sets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .crossJoin(F.broadcast(nb))
        .where(
            F.col("co") >= F.expr(f"n * {_TRUSS_NUM} div 1000 + 1")
        )
        .select("a", "b", "co")
    )
    und = edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    na = und.select(F.col("a").alias("ea"), F.col("b").alias("c1"))
    nbr = und.select(F.col("a").alias("eb"), F.col("b").alias("c2"))
    tri = (
        edges.join(F.broadcast(na), edges.a == na.ea)
        .join(
            F.broadcast(nbr),
            (edges.b == nbr.eb) & (F.col("c1") == F.col("c2")),
        )
        .groupBy("a", "b", "co")
        .agg(F.count(F.lit(1)).cast("long").alias("tri_count"))
    )
    return (
        edges.join(tri.select("a", "b", "tri_count"), ["a", "b"], "left")
        .select(
            F.col("a").alias("brand_a"),
            F.col("b").alias("brand_b"),
            "co",
            F.coalesce("tri_count", F.lit(0)).cast("long").alias("tri_count"),
            (F.coalesce("tri_count", F.lit(0)) >= 2).alias("in_truss4"),
            (F.coalesce("tri_count", F.lit(0)) >= 3).alias("in_truss5"),
        )
        .orderBy("brand_a", "brand_b")
    )


_TRUSS_SQL = oracle_bigint(
    f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS br
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), nb AS (
  SELECT COUNT(DISTINCT o) AS n FROM ob
), edges AS (
  SELECT t1.br AS a, t2.br AS b, COUNT(*) AS co
  FROM ob t1 JOIN ob t2 ON t1.o = t2.o AND t1.br < t2.br
  CROSS JOIN nb
  GROUP BY t1.br, t2.br
  HAVING COUNT(*) >= MAX(nb.n) * {_TRUSS_NUM} // 1000 + 1
), und AS (
  SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
), tri AS (
  SELECT e.a, e.b, COUNT(*) AS tri_count
  FROM edges e
  JOIN und na ON e.a = na.a
  JOIN und nbr ON e.b = nbr.a AND na.b = nbr.b
  GROUP BY e.a, e.b
)
SELECT e.a AS brand_a, e.b AS brand_b, CAST(e.co AS BIGINT) AS co,
       CAST(COALESCE(t.tri_count, 0) AS BIGINT) AS tri_count,
       COALESCE(t.tri_count, 0) >= 2 AS in_truss4,
       COALESCE(t.tri_count, 0) >= 3 AS in_truss5
FROM edges e LEFT JOIN tri t ON e.a = t.a AND e.b = t.b
ORDER BY brand_a, brand_b
""",
    "co",
    "tri_count",
)

ROUND9C_QUERIES["edge_triangle_support"] = (
    q_edge_triangle_support,
    _TRUSS_SQL,
)


# ---------------------------------------------------------------------------
# churn_label_frame — leakage-safe churn label construction census
# ---------------------------------------------------------------------------

_CHURN_HORIZON_DAYS = 90


def q_churn_label_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe churn LABEL construction — the step every churn
    model gets wrong first: features may read only orders ON OR
    BEFORE the cutoff (dataset max date minus the 90-day horizon),
    the label only orders AFTER it.  Emitted as a census per
    (churned, prior-order-count bucket): customer count, prior
    revenue, and total days-since-last-order — the class-balance /
    recency profile a modeling card reports before anyone trains.

    The cutoff folds in as a broadcast 1-row frame (no driver
    action); every measure is integer (cents, day diffs).

    Scale design: one pass over orders builds per-customer
    before/after aggregates (combinable, keyed on custkey); the
    census is a second combinable aggregate on a ≤12-cell key.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("od"),
        cents("o_totalprice").alias("val_c"),
    )
    cutoff = orders.agg(
        F.date_sub(F.max("od"), _CHURN_HORIZON_DAYS).alias("cutoff")
    )
    per_cust = (
        orders.crossJoin(F.broadcast(cutoff))
        .groupBy("o_custkey")
        .agg(
            F.sum((F.col("od") <= F.col("cutoff")).cast("long"))
            .cast("long")
            .alias("n_before"),
            F.sum(
                F.when(F.col("od") <= F.col("cutoff"), F.col("val_c")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("rev_before_c"),
            F.max(
                F.when(F.col("od") <= F.col("cutoff"), F.col("od"))
            ).alias("last_before"),
            F.max((F.col("od") > F.col("cutoff")).cast("long"))
            .cast("long")
            .alias("active_after"),
            F.max("cutoff").alias("cutoff"),
        )
        .where(F.col("n_before") > 0)
    )
    return (
        per_cust.groupBy(
            (F.col("active_after") == 0).alias("churned"),
            F.least(F.col("n_before"), F.lit(5)).cast("long").alias(
                "orders_bucket"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev_before_c").cast("long").alias("rev_before_c"),
            F.sum(F.datediff("cutoff", "last_before"))
            .cast("long")
            .alias("days_since_sum"),
        )
        .orderBy("churned", "orders_bucket")
    )


_CHURN_SQL = oracle_bigint(
    f"""
WITH cutoff AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) - {_CHURN_HORIZON_DAYS} AS cut
  FROM orders
), per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) <= cut
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) <= cut
                       THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev_before_c,
         MAX(CASE WHEN CAST(o_orderdate AS DATE) <= cut
                  THEN CAST(o_orderdate AS DATE) END) AS last_before,
         CAST(MAX(CASE WHEN CAST(o_orderdate AS DATE) > cut
                       THEN 1 ELSE 0 END) AS BIGINT) AS active_after,
         MAX(cut) AS cut
  FROM orders CROSS JOIN cutoff
  GROUP BY o_custkey
  HAVING SUM(CASE WHEN CAST(o_orderdate AS DATE) <= cut
             THEN 1 ELSE 0 END) > 0
)
SELECT active_after = 0 AS churned,
       LEAST(n_before, 5) AS orders_bucket,
       COUNT(*) AS n_customers,
       CAST(SUM(rev_before_c) AS BIGINT) AS rev_before_c,
       CAST(SUM(DATEDIFF('day', last_before, cut)) AS BIGINT)
         AS days_since_sum
FROM per_cust
GROUP BY active_after = 0, LEAST(n_before, 5)
ORDER BY churned, orders_bucket
""",
    "orders_bucket",
    "n_customers",
    "rev_before_c",
    "days_since_sum",
)

ROUND9C_QUERIES["churn_label_frame"] = (q_churn_label_frame, _CHURN_SQL)


# ---------------------------------------------------------------------------
# embedding_centroid_drift — quantized exact per-label centroid shift
# ---------------------------------------------------------------------------

#: shared drift tree over exact integers: sqrt(Σ_d (qa·cb − qb·ca)²)
#: / (ca·cb), in permicro units of the quantized embedding space
_DRIFT_EXPR = (
    "round(sqrt(CAST(num AS DOUBLE)) / (CAST(ca AS DOUBLE)"
    " * CAST(cb AS DOUBLE)), 6)"
)


def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift monitor: per label, the L2 distance between the
    centroids of two deterministic halves of the corpus (even/odd
    vec_id — the split an A/A drift monitor uses to calibrate its
    alert threshold).  Components quantize to permicro INTEGERS
    first, so the per-dimension sums are exact and order-independent
    at any partitioning — the float-sum hazard every naive centroid
    pipeline ships — and the only double is one sqrt per label.

    Scale design: one map-side posexplode to (label, dim, half)
    cells (label×64×2 panel, combinable sums); the drift reduces the
    bounded panel.  At 100 TB only quantized partial sums shuffle.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    )
    cells = emb.select(
        "label",
        "dim",
        (F.col("vec_id") % 2).alias("half"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("long").alias("q"),
    ).groupBy("label", "dim", "half").agg(
        F.sum("q").cast("long").alias("qs"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    byd = cells.groupBy("label", "dim").agg(
        F.max(F.when(F.col("half") == 0, F.col("qs"))).alias("qa"),
        F.max(F.when(F.col("half") == 0, F.col("c"))).alias("ca"),
        F.max(F.when(F.col("half") == 1, F.col("qs"))).alias("qb"),
        F.max(F.when(F.col("half") == 1, F.col("c"))).alias("cb"),
    )
    per_label = byd.groupBy("label").agg(
        F.max("ca").cast("long").alias("ca"),
        F.max("cb").cast("long").alias("cb"),
        F.sum(
            (
                F.col("qa").cast("decimal(38,0)") * F.col("cb")
                - F.col("qb").cast("decimal(38,0)") * F.col("ca")
            )
            * (
                F.col("qa").cast("decimal(38,0)") * F.col("cb")
                - F.col("qb").cast("decimal(38,0)") * F.col("ca")
            )
        ).alias("num"),
    )
    return per_label.select(
        F.col("label").cast("long").alias("label"),
        "ca",
        "cb",
        F.expr(_DRIFT_EXPR).alias("drift_permicro"),
    ).orderBy("label")


_DRIFT_SQL = oracle_bigint(
    f"""
WITH cells AS (
  SELECT label, u.i AS dim, vec_id % 2 AS half,
         CAST(SUM(CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0)
                       AS BIGINT)) AS BIGINT) AS qs,
         COUNT(*) AS c
  FROM embeddings,
       LATERAL unnest(generate_series(1, len(embedding))) u(i)
  GROUP BY label, u.i, vec_id % 2
), byd AS (
  SELECT label, dim,
         MAX(CASE WHEN half = 0 THEN qs END) AS qa,
         MAX(CASE WHEN half = 0 THEN c END) AS ca,
         MAX(CASE WHEN half = 1 THEN qs END) AS qb,
         MAX(CASE WHEN half = 1 THEN c END) AS cb
  FROM cells GROUP BY label, dim
), per_label AS (
  SELECT label, CAST(MAX(ca) AS BIGINT) AS ca, CAST(MAX(cb) AS BIGINT) AS cb,
         SUM((CAST(qa AS HUGEINT) * cb - CAST(qb AS HUGEINT) * ca)
             * (CAST(qa AS HUGEINT) * cb - CAST(qb AS HUGEINT) * ca)) AS num
  FROM byd GROUP BY label
)
SELECT CAST(label AS BIGINT) AS label, ca, cb,
       {_DRIFT_EXPR} AS drift_permicro
FROM per_label
ORDER BY label
""",
    "label",
    "ca",
    "cb",
)

ROUND9C_QUERIES["embedding_centroid_drift"] = (
    q_embedding_centroid_drift,
    _DRIFT_SQL,
)


# ---------------------------------------------------------------------------
# transition_by_step — position-indexed session transition matrix
# ---------------------------------------------------------------------------

_STEP_MAX = 4


def q_transition_by_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session transition matrix INDEXED BY STEP POSITION (the
    Sankey diagram's edge list): for each of the first 4 steps, how
    sessions move from one event type to the next —
    ``event_transition_matrix`` aggregates over all positions; this
    shows that step 1→2 behaves nothing like step 3→4.

    Built on the same (ts, event_id)-ordered sessionization as the
    entry/exit census; transitions come from a lead() in the SAME
    user-keyed sort (no extra shuffle); permille shares normalize per
    step by integer div.

    Scale design: one user-keyed shuffle; the census aggregates a
    ≤4×5×5 key domain, combinable.
    """
    stepped = _sessions_with_steps(spark, sf_dir)
    wlead = Window.partitionBy("user_id", "sid").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    trans = (
        stepped.withColumn("next_type", F.lead("event_type").over(wlead))
        .where(F.col("next_type").isNotNull() & (F.col("step") <= _STEP_MAX))
        .groupBy(
            F.col("step").cast("long").alias("step"),
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wstep = Window.partitionBy("step")
    return (
        trans.withColumn(
            "step_total", F.sum("n").over(wstep).cast("long")
        )
        .select(
            "step",
            "from_type",
            "to_type",
            "n",
            F.expr("(1000 * n) div step_total").cast("long").alias(
                "share_permille"
            ),
        )
        .orderBy("step", "from_type", "to_type")
    )


_TRANS_SQL = oracle_bigint(
    f"""
WITH {_SESS_STEP_SQL},
led AS (
  SELECT user_id, sid, step, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id, sid
                                ORDER BY step ASC) AS next_type
  FROM stepped
), trans AS (
  SELECT step, event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM led
  WHERE next_type IS NOT NULL AND step <= {_STEP_MAX}
  GROUP BY step, event_type, next_type
)
SELECT CAST(step AS BIGINT) AS step, from_type, to_type,
       CAST(n AS BIGINT) AS n,
       (1000 * n) // SUM(n) OVER (PARTITION BY step) AS share_permille
FROM trans
ORDER BY step, from_type, to_type
""",
    "n",
    "share_permille",
)

ROUND9C_QUERIES["transition_by_step"] = (q_transition_by_step, _TRANS_SQL)


# ---------------------------------------------------------------------------
# kmv_distinct_sketch — k-minimum-values cardinality, fully integer
# ---------------------------------------------------------------------------

_KMV_K = 32
_KMV_SCALE = 1 << 60  # h60 values are uniform in [1, 2^60)


def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER practical cardinality sketch (DataSketches' theta/KMV
    family, complementing the registry's HLL): keep the k smallest
    distinct hash values; the k-th minimum estimates cardinality as
    ``(k−1)·2^60 div h_k`` — uniform minima concentrate near k/n of
    the hash range.  Unlike HLL, the KMV estimator is PURE INTEGER
    arithmetic (one div), so the whole row — sketch state, estimate,
    exact count, permille error — is hash-exact with no rounding rule
    anywhere.  KMV synopses also intersect directly (the theta-sketch
    trick), which registers cannot.

    Sketched per order priority over distinct customers, next to the
    exact count so each row is its own error report.

    Scale design: one combinable distinct over (priority, custkey);
    ranking windows partition per priority (parallel across the
    5-value domain); at 100 TB a real implementation keeps the k
    minima via a bounded heap per partition then merges — the same
    min-merge algebra this SELECT expresses declaratively.
    """
    from etl_portofolio_spark.caching import scoped_persist
    from etl_portofolio_spark.functions.hashing import h60

    keys = scoped_persist(
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_custkey")
        .distinct()
        .select(
            "o_orderpriority",
            h60(F.concat(F.lit("kmv:"), F.col("o_custkey").cast("string"))).alias(
                "h"
            ),
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy(F.asc("h"))
    kth = (
        keys.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == _KMV_K)
        .select("o_orderpriority", F.col("h").alias("h_k"))
    )
    exact = keys.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return (
        exact.join(kth, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_exact",
            "h_k",
            F.expr(
                f"cast((cast({_KMV_K - 1} as decimal(38,0)) * {_KMV_SCALE})"
                " div h_k as long)"
            ).alias("kmv_est"),
        )
        .select(
            "o_orderpriority",
            "n_exact",
            "h_k",
            "kmv_est",
            F.expr("(1000 * abs(kmv_est - n_exact)) div n_exact")
            .cast("long")
            .alias("err_permille"),
        )
        .orderBy("o_orderpriority")
    )


_KMV_SQL = oracle_bigint(
    f"""
WITH keys AS (
  SELECT DISTINCT o_orderpriority,
         CAST('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM orders
), kth AS (
  SELECT o_orderpriority, h AS h_k
  FROM (
    SELECT o_orderpriority, h,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY h ASC)
             AS rk
    FROM keys
  ) WHERE rk = {_KMV_K}
), exact AS (
  SELECT o_orderpriority, COUNT(*) AS n_exact FROM keys
  GROUP BY o_orderpriority
), est AS (
  SELECT e.o_orderpriority, e.n_exact, k.h_k,
         CAST((CAST({_KMV_K - 1} AS HUGEINT) * {_KMV_SCALE}) // k.h_k
              AS BIGINT) AS kmv_est
  FROM exact e JOIN kth k ON e.o_orderpriority = k.o_orderpriority
)
SELECT o_orderpriority, n_exact, h_k, kmv_est,
       (1000 * abs(kmv_est - n_exact)) // n_exact AS err_permille
FROM est
ORDER BY o_orderpriority
""",
    "n_exact",
    "kmv_est",
    "err_permille",
)

ROUND9C_QUERIES["kmv_distinct_sketch"] = (q_kmv_distinct_sketch, _KMV_SQL)
