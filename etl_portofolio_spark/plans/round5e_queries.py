"""Round-5 fourth wave: customer segmentation + incremental view
maintenance.

Two closers for the analytics surface: RFM segmentation built on
scalar quantile thresholds (the scale-safe alternative to a global
``ntile`` — no single-task sort anywhere), and the four-term delta
expansion of a JOIN materialized view (the join-side companion to
``incremental_rollup_merge``'s algebraic aggregate maintenance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.plans.analytics_queries import _sql_cents, cents

# ---------------------------------------------------------------------------
# RFM segmentation via broadcast quantile thresholds
# ---------------------------------------------------------------------------

_RFM_QS = (0.2, 0.4, 0.6, 0.8)


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary segmentation: every customer scored
    1-5 on each axis, segments aggregated.

    The textbook formulation is ``ntile(5) OVER (ORDER BY metric)`` —
    three SINGLE-TASK global sorts.  Here each axis instead gets its
    exact interpolating quintile thresholds from ONE aggregate row
    (``percentile`` — sort-based exact, fine for 3 scalars; the
    sketch form is the 100 TB default) broadcast into a map-side
    bucket compare: score = 1 + Σ (metric > q_i).  Equal-value runs
    land in one bucket on both engines (ntile would split them
    arbitrarily), which is also what makes the result hash-stable.
    Recency is days-since-last-order against the corpus max date
    (broadcast scalar), so LOWER r_days means a fresher customer.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count(F.lit(1)).alias("f_orders"),
        F.sum(cents("o_totalprice")).alias("m_cents"),
    )
    maxday = per_cust.agg(F.max("last_day").alias("corpus_max"))
    rfm = per_cust.crossJoin(F.broadcast(maxday)).select(
        "o_custkey",
        F.datediff("corpus_max", "last_day").cast("long").alias("r_days"),
        "f_orders",
        "m_cents",
    )
    th = rfm.agg(
        *[
            F.percentile(c, F.lit(p)).alias(f"{c}_q{int(p * 100)}")
            for c in ("r_days", "f_orders", "m_cents")
            for p in _RFM_QS
        ]
    )

    def score(c: str):
        s = F.lit(1)
        for p in _RFM_QS:
            s = s + (F.col(c) > F.col(f"{c}_q{int(p * 100)}")).cast("int")
        return s

    return (
        rfm.crossJoin(F.broadcast(th))
        .select(
            score("r_days").alias("r_score"),
            score("f_orders").alias("f_score"),
            score("m_cents").alias("m_score"),
            "m_cents",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("m_cents").alias("segment_m_cents"),
        )
    )


def _oracle_rfm() -> str:
    th_cols = ", ".join(
        f"quantile_cont({c}, {p}) AS {c}_q{int(p * 100)}"
        for c in ("r_days", "f_orders", "m_cents")
        for p in _RFM_QS
    )

    def score(c: str) -> str:
        terms = " + ".join(
            f"CASE WHEN {c} > {c}_q{int(p * 100)} THEN 1 ELSE 0 END"
            for p in _RFM_QS
        )
        return f"(1 + {terms})"

    return f"""
WITH per_cust AS (
  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_day,
         count(*) AS f_orders,
         CAST(sum({_sql_cents("o_totalprice")}) AS BIGINT) AS m_cents
  FROM orders GROUP BY o_custkey
), rfm AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_day,
              (SELECT max(last_day) FROM per_cust)) AS BIGINT) AS r_days,
         f_orders, m_cents
  FROM per_cust
), th AS (
  SELECT {th_cols} FROM rfm
)
SELECT {score('r_days')} AS r_score,
       {score('f_orders')} AS f_score,
       {score('m_cents')} AS m_score,
       count(*) AS n_customers,
       CAST(sum(m_cents) AS BIGINT) AS segment_m_cents
FROM rfm, th
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Incremental JOIN view maintenance: the four-term delta expansion
# ---------------------------------------------------------------------------

_IVM_CUTOVER = "2000-01-01"


def q_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join materialized-view maintenance: with both sides split into
    (base, delta) — orders by order date, lineitem by ship date —
    the refreshed view is the FOUR-TERM expansion

        (A₀∪ΔA) ⋈ (L₀∪ΔL) = A₀⋈L₀ ∪ ΔA⋈L₀ ∪ A₀⋈ΔL ∪ ΔA⋈ΔL

    aggregated to revenue per priority.  The oracle computes the
    plain full join; the hash match proves the algebra.  At 100 TB
    the A₀⋈L₀ term is the STORED view (not recomputed — here it is,
    because the fixture has no persisted MV) and the three delta
    terms are each bounded by a delta side — the whole point of
    incremental maintenance; the aggregate merge on top is the
    ``incremental_rollup_merge`` combinable-partials discipline.
    Every term is the same keyed equi-join on orderkey; the date
    splits push into both scans as pushed filters.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    cut = F.lit(_IVM_CUTOVER)
    a0 = orders.where(F.col("o_orderdate") < cut)
    da = orders.where(F.col("o_orderdate") >= cut)
    l0 = li.where(F.col("l_shipdate") < cut)
    dl = li.where(F.col("l_shipdate") >= cut)
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)

    def term(o: DataFrame, ln: DataFrame) -> DataFrame:
        return o.join(ln, F.col("o_orderkey") == F.col("l_orderkey")).select(
            "o_orderpriority", rev.alias("rev_c4")
        )

    unioned = (
        term(a0, l0)
        .unionAll(term(da, l0))
        .unionAll(term(a0, dl))
        .unionAll(term(da, dl))
    )
    return unioned.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("rev_c4").alias("revenue_c4"),
    )


ORACLE_JOIN_IVM = f"""
SELECT o_orderpriority, count(*) AS n_lines,
       CAST(sum({_sql_cents("l_extendedprice * (1 - l_discount)", 4)}) AS BIGINT)
         AS revenue_c4
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


#: dict the registry splices in: name -> (query fn, oracle sql or None)
ROUND5E_QUERIES: dict = {
    "rfm_segments": (q_rfm_segments, _oracle_rfm()),
    "incremental_join_maintenance": (
        q_incremental_join_maintenance,
        ORACLE_JOIN_IVM,
    ),
}


# ---------------------------------------------------------------------------
# Seasonal-naive forecast error (per day-of-week backtest)
# ---------------------------------------------------------------------------

_FC_CUTOVER = "2001-01-01"


def q_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster: a test day's revenue
    is predicted by the TRAIN-period mean for its day-of-week; output
    is the per-dow mean absolute error — the baseline every real
    forecasting pipeline must beat, runnable as a query.

    Exactness discipline: the prediction is the rational sum/cnt, so
    the error is computed by cross-multiplication —
    |actual·cnt − sum_train| is an exact integer, summed exactly, and
    divided ONCE at the end (never a float mean of floats). Two
    aggregations (daily revenue → dow stats), both on tiny keyed
    domains after the first fact-scale groupBy; train/test split
    prunes by date at the scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("rev_c")
    )
    daily = daily.withColumn("dow", F.dayofweek("day"))
    train = daily.where(F.col("day") < F.lit(_FC_CUTOVER))
    test = daily.where(F.col("day") >= F.lit(_FC_CUTOVER))
    tr = train.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_train"), F.sum("rev_c").alias("sum_train")
    )
    joined = test.join(tr, "dow")
    err = F.abs(F.col("rev_c") * F.col("n_train") - F.col("sum_train"))
    return joined.groupBy("dow").agg(
        F.max("n_train").alias("n_train"),
        F.count(F.lit(1)).alias("n_test"),
        F.round(
            (F.sum(err) / (F.count(F.lit(1)) * F.max("n_train"))).cast("double")
            / F.lit(100.0),
            4,
        ).alias("mae_dollars"),
    )


ORACLE_SEASONAL_NAIVE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum({_sql_cents("o_totalprice")}) AS BIGINT) AS rev_c
  FROM orders GROUP BY 1
), d AS (
  SELECT day, rev_c, dayofweek(day) + 1 AS dow FROM daily
), tr AS (
  SELECT dow, count(*) AS n_train, CAST(sum(rev_c) AS BIGINT) AS sum_train
  FROM d WHERE day < DATE '{_FC_CUTOVER}' GROUP BY dow
)
SELECT d.dow, max(n_train) AS n_train, count(*) AS n_test,
       round(CAST(sum(abs(rev_c * n_train - sum_train))
                  / (count(*) * max(n_train)) AS DOUBLE) / 100.0, 4)
         AS mae_dollars
FROM d JOIN tr ON d.dow = tr.dow
WHERE d.day >= DATE '{_FC_CUTOVER}'
GROUP BY d.dow
"""


ROUND5E_QUERIES["seasonal_naive_error"] = (
    q_seasonal_naive_error,
    ORACLE_SEASONAL_NAIVE,
)


# ---------------------------------------------------------------------------
# Daily-count anomaly detection (3-sigma, integer-exact)
# ---------------------------------------------------------------------------


def q_event_count_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose per-type event count sits more than 2 sigma from that
    type's daily mean — the monitoring alarm a pipeline runs over its
    own volumes (the reference logs row counts per batch,
    `Ingestion Data (MySQL).py:172`; this is that signal with a
    defensible threshold instead of eyeballs).

    Integer-exact two-sigma (2σ keeps the synthetic volumes'
    anomalies visible; the multiplier is the policy dial): with
    S = Σx and Sxx = Σx² per type,
    (x−μ)² > 4σ²  ⇔  (n·x − S)² > 4·(n·Sxx − S²) — both sides exact
    BIGINTs, no float mean or variance ever materializes (the
    ``stats_corr_exact`` discipline applied to anomaly flagging).
    Two aggregations, both map-side combinable; the per-type stats
    frame is |types| rows and broadcasts into the flag pass.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("sxx"),
    )
    dev = F.col("n_days") * F.col("n_events") - F.col("s")
    var_n2 = F.col("n_days") * F.col("sxx") - F.col("s") * F.col("s")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .where(dev * dev > F.lit(4) * var_n2)
        .select(
            "event_type",
            "day",
            "n_events",
            F.round(F.col("s").cast("double") / F.col("n_days").cast("double"), 4)
            .alias("daily_mean"),
        )
    )


ORACLE_EVENT_ANOMALIES = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, count(*) AS n_days,
         CAST(sum(n_events) AS BIGINT) AS s,
         CAST(sum(n_events * n_events) AS BIGINT) AS sxx
  FROM daily GROUP BY event_type
)
SELECT d.event_type, d.day, d.n_events,
       round(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE), 4) AS daily_mean
FROM daily d JOIN stats st ON d.event_type = st.event_type
WHERE (n_days * n_events - s) * (n_days * n_events - s)
        > 4 * (n_days * sxx - s * s)
"""


ROUND5E_QUERIES["event_count_anomalies"] = (
    q_event_count_anomalies,
    ORACLE_EVENT_ANOMALIES,
)


# ---------------------------------------------------------------------------
# Column profile: the one-pass data-profiling report
# ---------------------------------------------------------------------------


def q_column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass profiling of the orders table: per column — null count,
    exact distinct count, and min/max rendered to strings — the
    first-contact report every ingestion of an unknown table starts
    with (the reference infers everything and hopes;
    SURVEY.md §1.3 calls that out as its reliability bug).

    One aggregation computes every column's stats in a single scan
    (count_distinct per column widens the agg buffer, not the pass
    count); the per-column rows come from an unpivot of that single
    row — |columns| rows of metadata, no second scan. At 100 TB
    exact NDV per column is the one expensive term; the sketch form
    (approx_count_distinct) is the default there, with this exact
    query as its audit twin (the ``approx_distinct_gate`` pattern).
    """
    orders = load_table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    one = orders.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__rows").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__ndv").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_str"),
            F.col(f"{c}__max").alias("max_str"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def _oracle_column_profile() -> str:
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    selects = []
    for c in cols:
        selects.append(f"""
SELECT '{c}' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_str,
       max(CAST({c} AS VARCHAR)) AS max_str
FROM orders""")
    return " UNION ALL ".join(selects)


ROUND5E_QUERIES["column_profile_orders"] = (
    q_column_profile_orders,
    _oracle_column_profile(),
)


# ---------------------------------------------------------------------------
# MapType surface: open-schema props as a map column
# ---------------------------------------------------------------------------


def q_props_map_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key metrics over props parsed as ``map<string,long>`` — the
    MapType member of the semi-structured family (declared-schema
    struct = ``json_props_extract``, open-schema navigable binary =
    ``variant_props_deciles``, and here the map form: unknown KEY SET
    with a known value type, the shape of sparse feature bags and
    metric tags).

    ``from_json`` to a map parses once at scan; ``explode`` fans out
    to (key, value) rows whose count is bounded by per-row key
    cardinality (like every bounded fan-out in this engine); one
    combinable aggregation per key follows.
    """
    events = load_table(spark, sf_dir, "events")
    kv = events.select(
        F.explode(F.from_json("props", "map<string,bigint>")).alias("key", "val")
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").alias("sum_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


ORACLE_PROPS_MAP = """
WITH kv AS (
  SELECT k AS key, CAST(json_extract(props::JSON, '$.' || k) AS BIGINT) AS val
  FROM (SELECT unnest(json_keys(props::JSON)) AS k, props FROM events)
)
SELECT key, count(*) AS n, CAST(sum(val) AS BIGINT) AS sum_val,
       min(val) AS min_val, max(val) AS max_val
FROM kv GROUP BY key
"""


ROUND5E_QUERIES["props_map_metrics"] = (q_props_map_metrics, ORACLE_PROPS_MAP)
