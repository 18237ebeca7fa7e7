"""Analytics extension queries: aggregates, windows, rollup, set ops.

The reference performs no groupBy aggregation at all (SURVEY.md §2.5) —
these queries are deliberately labeled ENGINE EXTENSIONS: the aggregate
/ window / set-op surface a user of a Spark analytics engine expects,
exercised TPC-H-style over the fixture star schema.

Float determinism policy: money values are integerized per-row
(``round(x * 10^k)`` → long) before summing, so every SUM is exact
integer arithmetic — order-independent and identical in DuckDB — and
only converted back to double at the end (same long → same double in
both engines). Raw double SUMs would depend on accumulation order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table


def cents(col: Column | str, scale: int = 2) -> Column:
    """Exact integer money: ``round(col * 10^scale)`` as long."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(10**scale), 0).cast("long")


def _sql_cents(expr: str, scale: int = 2) -> str:
    return f"CAST(round(({expr}) * {10**scale}, 0) AS BIGINT)"


# ---------------------------------------------------------------------------
# TPC-H-shaped aggregates
# ---------------------------------------------------------------------------


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped sums/avgs over lineitem.

    Scale: partial (map-side) aggregation before the 6-group shuffle;
    the shipdate filter is pushed to the parquet scan. The classic
    "does partial agg + pushdown happen" probe query.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = cents("l_quantity")
    price_c = cents("l_extendedprice")
    disc_price_c4 = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    charge_c6 = cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 6
    )
    disc_c = cents("l_discount")
    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c).cast("double") / 100.0).alias("sum_qty"),
            (F.sum(price_c).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(disc_price_c4).cast("double") / 10000.0).alias("sum_disc_price"),
            (F.sum(charge_c6).cast("double") / 1000000.0).alias("sum_charge"),
            ((F.sum(qty_c).cast("double") / n) / 100.0).alias("avg_qty"),
            ((F.sum(price_c).cast("double") / n) / 100.0).alias("avg_price"),
            ((F.sum(disc_c).cast("double") / n) / 100.0).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum({_sql_cents('l_quantity')}) AS DOUBLE) / 100.0 AS sum_qty,
       CAST(sum({_sql_cents('l_extendedprice')}) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(sum({_sql_cents('l_extendedprice * (1 - l_discount)', 4)}) AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(sum({_sql_cents('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)}) AS DOUBLE) / 1000000.0 AS sum_charge,
       (CAST(sum({_sql_cents('l_quantity')}) AS DOUBLE) / count(*)) / 100.0 AS avg_qty,
       (CAST(sum({_sql_cents('l_extendedprice')}) AS DOUBLE) / count(*)) / 100.0 AS avg_price,
       (CAST(sum({_sql_cents('l_discount')}) AS DOUBLE) / count(*)) / 100.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, grouped revenue, deterministic top-10.

    Scale: customer filter cuts the build side before the join; AQE
    picks broadcast for the dim side; top-10 runs as TakeOrdered (no
    global sort materialization).
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev_c4 = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev_c4).cast("double") / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


ORACLE_SHIPPING_PRIORITY = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(sum({_sql_cents('l_extendedprice * (1 - l_discount)', 4)}) AS DOUBLE) / 10000.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join with small-dim broadcasts, revenue per nation."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev_c4 = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg((F.sum(rev_c4).cast("double") / 10000.0).alias("revenue"))
    )


ORACLE_REGION_REVENUE = f"""
SELECT n_name,
       CAST(sum({_sql_cents('l_extendedprice * (1 - l_discount)', 4)}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------


def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number top-3 orders per customer (deterministic tie-break)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


ORACLE_WINDOW_TOP_ORDERS = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
FROM orders
QUALIFY rn <= 3
"""


def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + lag per customer over order history.

    Cents-integer running sum so the cumulative value is exact at any
    frame position in both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    price_c = cents("o_totalprice")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        (F.sum(price_c).over(frame).cast("double") / 100.0).alias("running_total"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
    )


ORACLE_WINDOW_RUNNING = f"""
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum({_sql_cents('o_totalprice')}) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS running_total,
       lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price,
       lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_price
FROM orders
"""


def q_asof_last_click_before_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: latest click at/before each signup, per user.

    Spark lacks a native as-of join; the composition is the standard
    union + last(ignoreNulls) running window — one shuffle on user_id,
    no range join explosion. (DuckDB's ASOF JOIN would be the oracle
    shortcut, but the window formulation keeps both sides identical.)
    """
    events = load_table(spark, sf_dir, "events")
    both = events.where(F.col("event_type").isin("click", "signup"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        both.withColumn("last_click_ts", last_click)
        .where(F.col("event_type") == "signup")
        .select("event_id", "user_id", F.col("ts").alias("signup_ts"), "last_click_ts")
    )


ORACLE_ASOF = """
WITH ev AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
  FROM events WHERE event_type IN ('click', 'signup')
)
SELECT event_id, user_id, ts AS signup_ts, last_click_ts
FROM ev WHERE event_type = 'signup'
"""


# ---------------------------------------------------------------------------
# rollup / set ops / distinct / cross join
# ---------------------------------------------------------------------------


def q_agg_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotals + grand total."""
    li = load_table(spark, sf_dir, "lineitem")
    price_c = cents("l_extendedprice")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(price_c).cast("double") / 100.0).alias("sum_price"),
        )
    )


ORACLE_ROLLUP = f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       CAST(sum({_sql_cents('l_extendedprice')}) AS DOUBLE) / 100.0 AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / EXCEPT set composition (distinct semantics).

    (high-balance customers ∪ customers with an order) ∖ BUILDING
    segment — all three legs project the key only, so the set ops run
    on narrow shuffles.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rich = customer.where(F.col("c_acctbal") > 7000).select("c_custkey")
    buyers = orders.select(F.col("o_custkey").alias("c_custkey"))
    building = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return rich.union(buyers).distinct().subtract(building)


ORACLE_SET_OPS = """
(SELECT c_custkey FROM customer WHERE c_acctbal > 7000
 UNION
 SELECT o_custkey AS c_custkey FROM orders)
EXCEPT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


def q_agg_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per group (the expensive two-shuffle agg)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_DISTINCT_USERS = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type
"""


def q_cross_join_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 parity: explicit cross join of two tiny relations."""
    region = load_table(spark, sf_dir, "region")
    events = load_table(spark, sf_dir, "events")
    types = events.select("event_type").distinct()
    return region.select("r_name").crossJoin(types)


ORACLE_CROSS_JOIN = """
SELECT r_name, event_type
FROM region CROSS JOIN (SELECT DISTINCT event_type FROM events) t
"""


def q_agg_decimal_revenue_by_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal(20,0) counter aggregation by ds partition key (F9 + K1 shape).

    Exercises exact decimal sums (the counter-safe type the reference
    casts at Ingestion Data (MySQL).py:171) grouped by the engine's
    string day-partition key.
    """
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import types as T

    counter = (F.col("value") * F.lit(1000000)).cast(T.DecimalType(20, 0))
    return (
        events.select(F.date_format("ts", "yyyyMMdd").alias("ds"), counter.alias("v"))
        .groupBy("ds")
        # the SUM runs in exact decimal arithmetic (F9); the emitted leaf
        # is BIGINT (micro-units fit comfortably) because DECIMAL crosses
        # the cross-engine hash boundary unstably (VERDICT r1).
        .agg(F.sum("v").cast(T.DecimalType(38, 0)).cast("long").alias("revenue_micro"))
    )


ORACLE_DECIMAL_REVENUE = """
SELECT strftime(ts, '%Y%m%d') AS ds,
       CAST(sum(CAST(round(value * 1000000, 0) AS DECIMAL(20,0))) AS BIGINT) AS revenue_micro
FROM events GROUP BY 1
"""


def q_anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no order since 2001-01-01.

    Scale: the anti join shuffles on the customer key like any equi
    join, and the date filter prunes the probe side at the scan; AQE
    can flip to broadcast when the filtered side shrinks enough.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


ORACLE_ANTI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
"""


def q_agg_type_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate revenue share per month.

    ECONOMY-type share of revenue, by order month — a lineitem⋈part
    join where part broadcasts, then a conditional sum.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev_c4 = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    econ = F.when(F.col("p_type") == "ECONOMY", rev_c4).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            (F.sum(econ).cast("double") / 10000.0).alias("economy_revenue"),
            (F.sum(rev_c4).cast("double") / 10000.0).alias("total_revenue"),
        )
        .withColumn(
            "economy_share",
            F.col("economy_revenue") / F.col("total_revenue"),
        )
    )


ORACLE_TYPE_REVENUE_SHARE = f"""
WITH g AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         CAST(sum(CASE WHEN p_type = 'ECONOMY'
                  THEN {_sql_cents('l_extendedprice * (1 - l_discount)', 4)}
                  ELSE 0 END) AS DOUBLE) / 10000.0 AS economy_revenue,
         CAST(sum({_sql_cents('l_extendedprice * (1 - l_discount)', 4)}) AS DOUBLE) / 10000.0 AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT ship_month, economy_revenue, total_revenue,
       economy_revenue / total_revenue AS economy_share
FROM g
"""


def q_window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family over one window: rank / dense_rank /
    ntile / percent_rank / cume_dist (single sort per partition —
    Catalyst evaluates all five in one Window operator)."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return customer.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


ORACLE_RANK_VARIANTS = """
SELECT c_mktsegment, c_custkey, c_acctbal,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS prank,
       cume_dist() OVER w AS cdist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def q_exists_subquery_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-EXISTS shape: suppliers whose nation has customers with
    an account balance above a threshold — planned as a left-semi join
    chain (Catalyst rewrites EXISTS to semi joins; here declared
    directly, same plan)."""
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    rich_nations = (
        customer.where(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nk"))
        .distinct()
    )
    return supplier.join(
        rich_nations, supplier["s_nationkey"] == rich_nations["nk"], "left_semi"
    ).select("s_suppkey", "s_name", "s_nationkey")


ORACLE_EXISTS_SHAPE = """
SELECT s_suppkey, s_name, s_nationkey
FROM supplier s
WHERE EXISTS (SELECT 1 FROM customer c
              WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal > 9000)
"""


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — result-identical to a plain groupBy.

    The hot-key-proof physical plan (operators/skew.py): stage 1 groups
    on (key, salt16) so no reducer ever sees a whole hot key, stage 2
    merges <=16 partials per key. The oracle is the PLAIN group-by —
    salting must be invisible in the result.
    """
    from etl_portofolio_spark.operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem")
    with_c = li.withColumn("qty_c", cents("l_quantity"))
    return salted_aggregate(
        with_c,
        keys=["l_returnflag", "l_linestatus"],
        aggs=[
            ("qty_c", "sum", "sum_qty_c"),
            ("l_orderkey", "count", "n_items"),
            ("qty_c", "max", "max_qty_c"),
        ],
        salt_from="l_orderkey",
    )


ORACLE_SKEW_SALTED = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum({_sql_cents('l_quantity')}) AS BIGINT) AS sum_qty_c,
       count(l_orderkey) AS n_items,
       max({_sql_cents('l_quantity')}) AS max_qty_c
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute window aggregation over the event stream.

    The batch twin of streaming/structured.windowed_counts — the same
    plan Structured Streaming runs per micro-batch (§2.8 window
    assignment as ``F.window``, not a driver loop).
    """
    from etl_portofolio_spark.streaming.structured import windowed_counts

    events = load_table(spark, sf_dir, "events")
    return windowed_counts(events, window="5 minutes", lateness="0 seconds")


ORACLE_TUMBLING_WINDOW = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start,
       time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS w_end,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1, 2, 3
"""


_QTY_BANDS: tuple[tuple[str, int, int], ...] = tuple(
    (f"band_{i}", 10 * i + 1, 10 * (i + 1)) for i in range(5)
)


def q_range_join_quantity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: lineitem quantity BETWEEN band bounds,
    planned as a bucket-grid EQUI-join (operators/rangejoin.py) — never
    a BroadcastNestedLoop/cartesian — then an exact integer aggregate
    per band. The bucket width equals the band width, so the interval
    side inflates at most 2x and the join is a broadcast hash join.
    """
    from etl_portofolio_spark.operators.rangejoin import bucketed_range_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    bands = spark.createDataFrame(
        list(_QTY_BANDS), schema="band string, lo bigint, hi bigint"
    )
    joined = bucketed_range_join(
        li, bands, point_col="l_quantity", lo_col="lo", hi_col="hi", bucket_width=10.0
    )
    return joined.groupBy("band", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(cents("l_quantity")).alias("sum_qty_c"),
    )


ORACLE_RANGE_JOIN = f"""
WITH bands(band, lo, hi) AS (
  VALUES {", ".join(f"('{b}', CAST({lo} AS BIGINT), CAST({hi} AS BIGINT))" for b, lo, hi in _QTY_BANDS)}
)
SELECT band, lo, hi,
       count(*) AS n_items,
       CAST(sum({_sql_cents('l_quantity')}) AS BIGINT) AS sum_qty_c
FROM lineitem JOIN bands ON l_quantity BETWEEN lo AND hi
GROUP BY 1, 2, 3
"""


def q_scd2_user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 effective ranges: each (user, event_type) change row
    gets [effective_from, effective_to) via lead() — the standard
    "latest dimension snapshot + full history" construction for CDC
    feeds. One shuffle (window partition on the key); ties broken on
    event_id so reruns and the oracle agree. is_current marks open rows.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        "event_type",
        "event_id",
        cents("value").alias("value_c"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


ORACLE_SCD2 = f"""
SELECT user_id, event_type, event_id,
       {_sql_cents('value')} AS value_c,
       ts AS effective_from,
       lead(ts) OVER w AS effective_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC)
"""


def q_sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation (10-minute window, 5-minute slide):
    every event lands in exactly 2 overlapping windows. Same
    ``F.window`` operator Structured Streaming uses (§2.8), so the
    batch result here is the streaming query's final state. The 2x
    row inflation happens map-side (window explode before the partial
    agg), so the only shuffle carries already-combined partials.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


ORACLE_SLIDING_WINDOW = f"""
SELECT time_bucket(INTERVAL '5 minutes', ts) - s.i * INTERVAL '5 minutes' AS w_start,
       time_bucket(INTERVAL '5 minutes', ts) - s.i * INTERVAL '5 minutes'
         + INTERVAL '10 minutes' AS w_end,
       event_type,
       count(*) AS n_events,
       CAST(sum({_sql_cents('value')}) AS BIGINT) AS value_cents
FROM events CROSS JOIN (VALUES (0), (1)) AS s(i)
GROUP BY 1, 2, 3
"""


def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-based session windows: ``F.session_window`` (10-minute
    gap) — the built-in JVM counterpart of the custom
    applyInPandasWithState sessionizer (streaming/stateful.py). Spark
    merges events where the next timestamp is < previous end
    (= ts + gap), so a session SPLITS when the gap is >= 10 minutes;
    the oracle's islands flag uses the same >= convention. Window end
    is last-event + gap, per Spark's definition. One shuffle on
    user_id; the session assignment itself is a sort-based merge
    inside the aggregation, no window-function pass.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "10 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "value_cents",
        )
    )


ORACLE_SESSION_WINDOW = f"""
WITH flagged AS (
  SELECT user_id, ts, {_sql_cents('value')} AS vc,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
), islands AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL '10 minutes' AS session_end,
       user_id,
       count(*) AS n_events,
       CAST(sum(vc) AS BIGINT) AS value_cents
FROM islands
GROUP BY user_id, sid
"""


def q_agg_cube_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with per-column grouping
    flags: all 4 aggregation granularities in ONE pass — Catalyst
    expands the grouping sets before the single shuffle, so the fact
    table is scanned once, not 4 times. Exact integer money sums.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_rf"),
            F.grouping("l_linestatus").cast("long").alias("g_ls"),
            F.count(F.lit(1)).alias("n_items"),
            F.sum(cents("l_extendedprice")).alias("sum_price_c"),
        )
    )


ORACLE_CUBE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
       count(*) AS n_items,
       CAST(sum({_sql_cents('l_extendedprice')}) AS BIGINT) AS sum_price_c
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_time_bounded_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution within 10 minutes per user — the
    batch twin of the stream-stream interval join
    (streaming/structured.time_bounded_join; the SAME function builds
    both plans). Equi-join on user_id + time-range residual: hash
    join, state-expirable in streaming mode.
    """
    from etl_portofolio_spark.streaming.structured import time_bounded_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    return time_bounded_join(clicks, purchases, window_minutes=10)


ORACLE_TIME_BOUNDED_JOIN = """
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       c.event_id AS click_id,
       c.ts AS click_ts
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL '10 minutes'
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide money columns to (measure, value_c) long form
    — ``DataFrame.unpivot`` (SQL UNPIVOT/stack), the inverse of the
    flagship pivot. Map-side only: no shuffle, the 3x row inflation
    happens inside the scan's projection. Bounded to the first 2000
    orders so the long-form result stays driver-collectable.
    """
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 2000)
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        cents("l_quantity").alias("quantity_c"),
        cents("l_extendedprice").alias("extendedprice_c"),
        cents("l_discount").alias("discount_c"),
    )
    return wide.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["quantity_c", "extendedprice_c", "discount_c"],
        variableColumnName="measure",
        valueColumnName="value_c",
    )


ORACLE_UNPIVOT = f"""
WITH wide AS (
  SELECT l_orderkey, l_linenumber,
         {_sql_cents('l_quantity')} AS quantity_c,
         {_sql_cents('l_extendedprice')} AS extendedprice_c,
         {_sql_cents('l_discount')} AS discount_c
  FROM lineitem WHERE l_orderkey <= 2000
)
SELECT l_orderkey, l_linenumber, 'quantity_c' AS measure, quantity_c AS value_c FROM wide
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice_c', extendedprice_c FROM wide
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount_c', discount_c FROM wide
"""


def q_upsert_merge_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics on plain parquet: full-outer join of the
    dimension with a CDC update batch, coalescing to the newest value
    and tagging each row inserted/updated/unchanged. The update batch
    is derived deterministically (every 7th customer gets a new
    balance; 5 synthetic new keys). Full-outer joins cannot broadcast
    in Spark, so this shuffles both sides on the key; at scale MERGE
    engines split the work into an inner join (updates) plus a
    left-anti (inserts) — both broadcastable for small CDC batches —
    and rewrite only the touched files. This query keeps the canonical
    single-plan form the split compiles from.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", cents("c_acctbal").alias("acctbal_c")
    )
    updates = (
        cust.where(F.col("c_custkey") % 7 == 0)
        .select(
            F.col("c_custkey").alias("u_key"),
            (F.col("acctbal_c") + F.lit(10000)).alias("u_acctbal_c"),
        )
        .unionAll(
            spark.range(1, 6).select(
                (F.col("id") + F.lit(10_000_000)).alias("u_key"),
                F.lit(0).cast("long").alias("u_acctbal_c"),
            )
        )
    )
    merged = cust.join(updates, cust["c_custkey"] == updates["u_key"], "full_outer")
    return merged.select(
        F.coalesce(F.col("c_custkey"), F.col("u_key")).alias("custkey"),
        F.coalesce(F.col("u_acctbal_c"), F.col("acctbal_c")).alias("acctbal_c"),
        F.when(F.col("c_custkey").isNull(), F.lit("inserted"))
        .when(F.col("u_key").isNull(), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
        .alias("action"),
    )


ORACLE_UPSERT_MERGE = f"""
WITH cust AS (
  SELECT c_custkey, c_name, {_sql_cents('c_acctbal')} AS acctbal_c FROM customer
), updates AS (
  SELECT c_custkey AS u_key, acctbal_c + 10000 AS u_acctbal_c
  FROM cust WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT 10000000 + i AS u_key, CAST(0 AS BIGINT) AS u_acctbal_c
  FROM generate_series(1, 5) AS t(i)
)
SELECT coalesce(c_custkey, u_key) AS custkey,
       coalesce(u_acctbal_c, acctbal_c) AS acctbal_c,
       CASE WHEN c_custkey IS NULL THEN 'inserted'
            WHEN u_key IS NULL THEN 'unchanged'
            ELSE 'updated' END AS action
FROM cust FULL OUTER JOIN updates ON c_custkey = u_key
"""


def q_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-window family over one ordered spec: first_value /
    last_value (explicit full frame — the default growing frame is the
    classic last_value foot-gun) / nth_value / lag-with-default, all
    evaluated in a single Window operator (one sort per partition).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w_full).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.lag(cents("value"), 1, 0).over(w).alias("prev_value_c"),
    )


ORACLE_WINDOW_VALUES = f"""
SELECT user_id, event_id, ts,
       first_value(event_type) OVER w AS first_type,
       last_value(event_type) OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
       nth_value(event_type, 2) OVER w AS second_type,
       lag({_sql_cents('value')}, 1, CAST(0 AS BIGINT)) OVER w AS prev_value_c
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


def q_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group collection: collect_list is
    order-nondeterministic under parallel execution, so the engine's
    contract is sort-then-serialize (array_sort + concat_ws) — the only
    reproducible form of "gather the group's values" on a cluster.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("user_id") < 200)
        .groupBy("user_id")
        .agg(
            F.concat_ws("|", F.array_sort(F.collect_list("event_type"))).alias(
                "types_sorted"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


ORACLE_COLLECT_SORTED = """
SELECT user_id,
       string_agg(event_type, '|' ORDER BY event_type ASC) AS types_sorted,
       count(*) AS n_events
FROM events
WHERE user_id < 200
GROUP BY user_id
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per user: first view → first click AFTER that
    view → first purchase AFTER that click. Each stage is a conditional
    min() aggregation joined back broadcast (stage results are
    per-user scalars — tiny), so the event table is scanned per stage
    but never self-joined row-to-row; the sequential dependency between
    stages is inherent to funnel semantics.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    s2 = (
        ev.join(F.broadcast(s1), "user_id")
        .where((F.col("event_type") == "click") & (F.col("ts") > F.col("first_view")))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_click"))
    )
    s3 = (
        ev.join(F.broadcast(s2), "user_id")
        .where(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("first_click"))
        )
        .groupBy("user_id", "first_view", "first_click")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        s1.join(s2.select("user_id", "first_click"), "user_id", "left")
        .join(s3.select("user_id", "first_purchase"), "user_id", "left")
        .select("user_id", "first_view", "first_click", "first_purchase")
    )


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS first_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS first_click
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.first_view
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.first_click
  GROUP BY e.user_id
)
SELECT s1.user_id, first_view, first_click, first_purchase
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


#: name -> (query_fn, oracle_sql)
ANALYTICS_QUERIES = {
    "agg_pricing_summary": (q_agg_pricing_summary, ORACLE_PRICING_SUMMARY),
    "join_shipping_priority": (q_join_shipping_priority, ORACLE_SHIPPING_PRIORITY),
    "join_region_revenue": (q_join_region_revenue, ORACLE_REGION_REVENUE),
    "window_top_orders": (q_window_top_orders, ORACLE_WINDOW_TOP_ORDERS),
    "window_running_total": (q_window_running_total, ORACLE_WINDOW_RUNNING),
    "asof_last_click_before_signup": (q_asof_last_click_before_signup, ORACLE_ASOF),
    "agg_rollup_sales": (q_agg_rollup_sales, ORACLE_ROLLUP),
    "set_ops_customers": (q_set_ops_customers, ORACLE_SET_OPS),
    "agg_distinct_users": (q_agg_distinct_users, ORACLE_DISTINCT_USERS),
    "cross_join_matrix": (q_cross_join_matrix, ORACLE_CROSS_JOIN),
    "agg_decimal_revenue_by_ds": (q_agg_decimal_revenue_by_ds, ORACLE_DECIMAL_REVENUE),
    "tumbling_window_events": (q_tumbling_window_events, ORACLE_TUMBLING_WINDOW),
    "anti_join_inactive_customers": (
        q_anti_join_inactive_customers,
        ORACLE_ANTI_JOIN,
    ),
    "agg_type_revenue_share": (q_agg_type_revenue_share, ORACLE_TYPE_REVENUE_SHARE),
    "skew_salted_agg": (q_skew_salted_agg, ORACLE_SKEW_SALTED),
    "window_rank_variants": (q_window_rank_variants, ORACLE_RANK_VARIANTS),
    "exists_subquery_shape": (q_exists_subquery_shape, ORACLE_EXISTS_SHAPE),
    "range_join_quantity_bands": (q_range_join_quantity_bands, ORACLE_RANGE_JOIN),
    "scd2_user_event_history": (q_scd2_user_event_history, ORACLE_SCD2),
    "sliding_window_events": (q_sliding_window_events, ORACLE_SLIDING_WINDOW),
    "session_window_native": (q_session_window_native, ORACLE_SESSION_WINDOW),
    "agg_cube_returns": (q_agg_cube_returns, ORACLE_CUBE),
    "time_bounded_attribution": (q_time_bounded_attribution, ORACLE_TIME_BOUNDED_JOIN),
    "unpivot_lineitem_measures": (q_unpivot_lineitem_measures, ORACLE_UNPIVOT),
    "upsert_merge_customers": (q_upsert_merge_customers, ORACLE_UPSERT_MERGE),
    "window_value_functions": (q_window_value_functions, ORACLE_WINDOW_VALUES),
    "agg_collect_sorted": (q_agg_collect_sorted, ORACLE_COLLECT_SORTED),
    "funnel_conversion": (q_funnel_conversion, ORACLE_FUNNEL),
}
