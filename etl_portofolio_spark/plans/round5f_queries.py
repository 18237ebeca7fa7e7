"""Round-5 closers: the five remaining TPC-H shapes (Q4, Q6, Q11,
Q12, Q14) — with these the full 22-query suite is re-expressed
Spark-first, each with an exact DuckDB oracle.

Fixture adaptations (same discipline as Q21, documented per query):
no l_commitdate/l_receiptdate → "late" = shipped more than N days
after the order date; no l_shipmode → l_returnflag plays the
categorical; no partsupp → stock value derived from lineitem.

Cross-engine determinism: money in integer cents, discount in integer
basis points (fixture discounts are exact hundredths), ratios computed
ONCE as a single double division of two exact integers — no float
accumulation order exists on either engine.

Scale notes (100 TB): Q6 is the pushdown showcase (filters reach the
parquet scan, one combinable aggregate, zero joins); Q4/Q12 shuffle
lineitem exactly once on the orderkey the join already requires; Q11's
scalar total enters as a one-row broadcast with the threshold compare
as integer cross-multiplication; Q14's part side carries no hint — AQE
picks broadcast at small SF, shuffle-hash at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.plans.analytics_queries import _sql_cents, cents

# ---------------------------------------------------------------------------
# Q4 shape: order-priority checking (EXISTS -> semi join with residual)
# ---------------------------------------------------------------------------

_Q4_FROM, _Q4_TO = "1996-01-01", "1997-01-01"
_Q4_LATE_DAYS = 90


def q_late_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority that had at least one late line (TPC-H Q4
    shape; late = shipped >90 days after the order date — the fixture
    has no commit/receipt dates).

    Decorrelation: the oracle's correlated EXISTS becomes ONE left-semi
    hash join on the orderkey with the lateness residual evaluated
    inside the join — no second scan, no per-order re-probe. The date
    window prunes the orders scan (PushedFilters) before the join.
    """
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(_Q4_FROM))
        & (F.col("o_orderdate") < F.lit(_Q4_TO))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q4_LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORACLE_LATE_ORDER_PRIORITIES = f"""
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= DATE '{_Q4_FROM}' AND o_orderdate < DATE '{_Q4_TO}'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL {_Q4_LATE_DAYS} DAY)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q6 shape: forecast revenue change (pure scan-aggregate, full pushdown)
# ---------------------------------------------------------------------------

_Q6_FROM, _Q6_TO = "1997-01-01", "1998-01-01"
_Q6_DISC_LO_BPS, _Q6_DISC_HI_BPS = 5, 7
_Q6_MAX_QTY = 24


def q_forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue that WOULD have been earned without small discounts
    (TPC-H Q6): one filtered scan, one combinable aggregate, zero
    joins — the pushdown showcase.  All three predicates reach the
    parquet scan as PushedFilters; at 100 TB this runs at IO speed
    with a 1-row result.

    Exactness: discount is integer basis-points-of-100 (fixture
    discounts are exact hundredths, so ``round(d*100)`` is stable on
    both engines); revenue = Σ cents·bps is a pure BIGINT sum — no
    float accumulation at all.  The discount-band filter compares the
    DERIVED integer, not the stored double, so the boundary rows are
    engine-independent by construction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bps = F.round(F.col("l_discount") * 100, 0).cast("long")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit(_Q6_FROM))
            & (F.col("l_shipdate") < F.lit(_Q6_TO))
            & (F.col("l_quantity") < _Q6_MAX_QTY)
        )
        .where(bps.between(_Q6_DISC_LO_BPS, _Q6_DISC_HI_BPS))
        .agg(
            F.sum(cents("l_extendedprice") * bps).alias("revenue_cbps"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLE_FORECAST_REVENUE_DELTA = f"""
SELECT CAST(sum({_sql_cents("l_extendedprice")}
             * CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cbps,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '{_Q6_FROM}' AND l_shipdate < DATE '{_Q6_TO}'
  AND l_quantity < {_Q6_MAX_QTY}
  AND CAST(round(l_discount * 100, 0) AS BIGINT)
        BETWEEN {_Q6_DISC_LO_BPS} AND {_Q6_DISC_HI_BPS}
"""


# ---------------------------------------------------------------------------
# Q11 shape: important stock (scalar total x fraction -> cross-multiply)
# ---------------------------------------------------------------------------

_Q11_NATION = "NATION_7"
_Q11_FRACTION_DEN = 500  # keep parts worth > total/500


def q_important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts representing an outsized share of one nation's line value
    (TPC-H Q11 shape; the fixture has no partsupp, so per-part value is
    the lineitem value supplied by that nation's suppliers).

    Decorrelation: the oracle's scalar subquery (total x fraction in
    HAVING) becomes a one-row aggregate broadcast into the filter, and
    the float threshold becomes integer cross-multiplication
    ``value_c * DEN > total_c`` — no engine materializes the fraction.
    The nation filter enters through the constant-size broadcast dim
    chain BEFORE the per-part shuffle, so the aggregation only touches
    that nation's lines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == _Q11_NATION
    )
    nation_lines = (
        li.join(
            F.broadcast(
                supplier.join(
                    F.broadcast(nation),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("l_partkey", cents("l_extendedprice").alias("value_c"))
    )
    per_part = nation_lines.groupBy("l_partkey").agg(
        F.sum("value_c").alias("value_c")
    )
    total = nation_lines.agg(F.sum("value_c").alias("total_c"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value_c") * _Q11_FRACTION_DEN > F.col("total_c"))
        .select(F.col("l_partkey").alias("partkey"), "value_c")
    )


ORACLE_IMPORTANT_PART_STOCK = f"""
WITH nl AS (
  SELECT l_partkey, {_sql_cents("l_extendedprice")} AS value_c
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = '{_Q11_NATION}'
)
SELECT l_partkey AS partkey, CAST(sum(value_c) AS BIGINT) AS value_c
FROM nl
GROUP BY l_partkey
HAVING sum(value_c) * {_Q11_FRACTION_DEN} > (SELECT sum(value_c) FROM nl)
"""


# ---------------------------------------------------------------------------
# Q12 shape: late-line priority counts by category (conditional agg)
# ---------------------------------------------------------------------------

_Q12_FROM, _Q12_TO = "1997-01-01", "1998-01-01"
_Q12_LATE_DAYS = 60


def q_shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Critical- vs normal-priority orders among late-shipped lines,
    per line category (TPC-H Q12 shape; the fixture has no l_shipmode,
    so l_returnflag plays the categorical, and late = shipped >60 days
    after the order date).

    One equi-join shuffle on the orderkey, then a conditional
    aggregation over the 3-value category — the CASE pair collapses to
    two combinable sums, never two passes.  The shipdate window prunes
    the lineitem scan before the join.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(_Q12_FROM))
        & (F.col("l_shipdate") < F.lit(_Q12_TO))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {_Q12_LATE_DAYS} DAYS"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(late)
        .groupBy(F.col("l_returnflag").alias("category"))
        .agg(
            F.sum(F.when(critical, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~critical, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


ORACLE_SHIPMODE_PRIORITY_COUNTS = f"""
SELECT l_returnflag AS category,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '{_Q12_FROM}' AND l_shipdate < DATE '{_Q12_TO}'
  AND l_shipdate > o_orderdate + INTERVAL {_Q12_LATE_DAYS} DAY
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Q14 shape: promo revenue share (ratio of two exact integer sums)
# ---------------------------------------------------------------------------

_Q14_FROM, _Q14_TO = "1997-09-01", "1997-10-01"


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of one month's discounted revenue from PROMO parts (TPC-H
    Q14).  Both numerator and denominator are exact integer 1e-4-cent
    sums folded into ONE combinable aggregate; the percentage is a
    single double division of the two BIGINTs, rounded — bit-identical
    on any engine, at any partitioning.  The part join carries no hint:
    AQE broadcasts at small SF and shuffle-hashes at scale.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(_Q14_FROM))
        & (F.col("l_shipdate") < F.lit(_Q14_TO))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    promo = F.col("p_type").startswith("PROMO")
    sums = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(promo, rev).otherwise(F.lit(0))).alias("promo_c"),
            F.sum(rev).alias("total_c"),
        )
    )
    return sums.select(
        "promo_c",
        "total_c",
        F.round(F.lit(100.0) * F.col("promo_c") / F.col("total_c"), 6).alias(
            "promo_pct"
        ),
    )


ORACLE_PROMO_REVENUE_SHARE = f"""
WITH s AS (
  SELECT
    CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
             THEN {_sql_cents("l_extendedprice * (1 - l_discount)", 4)}
             ELSE 0 END) AS BIGINT) AS promo_c,
    CAST(sum({_sql_cents("l_extendedprice * (1 - l_discount)", 4)}) AS BIGINT)
      AS total_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= DATE '{_Q14_FROM}' AND l_shipdate < DATE '{_Q14_TO}'
)
SELECT promo_c, total_c,
       round(100.0 * promo_c / total_c, 6) AS promo_pct
FROM s
"""


ROUND5F_QUERIES: dict = {
    "late_order_priorities": (q_late_order_priorities, ORACLE_LATE_ORDER_PRIORITIES),
    "forecast_revenue_delta": (
        q_forecast_revenue_delta,
        ORACLE_FORECAST_REVENUE_DELTA,
    ),
    "important_part_stock": (q_important_part_stock, ORACLE_IMPORTANT_PART_STOCK),
    "shipmode_priority_counts": (
        q_shipmode_priority_counts,
        ORACLE_SHIPMODE_PRIORITY_COUNTS,
    ),
    "promo_revenue_share": (q_promo_revenue_share, ORACLE_PROMO_REVENUE_SHARE),
}
