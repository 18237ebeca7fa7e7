"""Round-5 second wave, part 1: the TPC-H correlated-subquery family.

The reference embeds all relational logic as SQL strings
(`Processing Data.py:154-183`); its dialect never uses correlated
subqueries, but any user migrating real warehouse SQL onto this engine
will.  These queries pin the DECORRELATION contract: each Spark plan is
the scale-safe aggregate+join rewrite, while the DuckDB oracle keeps
the textbook correlated/EXISTS form — the hash match proves the
rewrite is semantics-preserving, which is exactly what Catalyst's own
decorrelation must guarantee.

Scale notes (100 TB):
- Scalar subqueries (global avg / global max) become one-row aggregate
  frames broadcast-cross-joined into the probe side — never a window
  over an empty partition (that is a single-task global sort).
- Correlated per-group MIN/AVG become a groupBy on the correlation key
  joined back on that key: one extra shuffle on an already-shuffled
  key, no nested-loop re-execution per outer row.
- EXISTS / NOT EXISTS become left-semi / left-anti joins, or — when
  the predicate needs "exactly one distinct peer" (Q21) — a single
  conditional aggregation pass over the window key, replacing TWO
  correlated EXISTS probes with one shuffle.

Cross-engine determinism: money in integer cents (``cents``), float
comparisons replaced by integer cross-multiplication
(``bal_c * n > sum_c`` instead of ``bal > avg``), quantities cast to
long (fixture quantities are integral).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.plans.analytics_queries import _sql_cents, cents

# ---------------------------------------------------------------------------
# Q2 shape: per-part minimum-cost supplier (correlated MIN -> agg+join)
# ---------------------------------------------------------------------------

_Q2_SIZE = 15
_Q2_REGION = "EUROPE"


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers achieving the minimum discounted line cost per part
    (TPC-H Q2 shape, adapted: the fixture has no partsupp, so the
    part×supplier cost relation is derived from lineitem).

    Decorrelation: the oracle's ``cost = (SELECT min(cost) ... WHERE
    same part)`` becomes a groupBy(partkey) min joined back on
    partkey.  Both the cost relation and the per-part min are keyed by
    partkey, so AQE plans one shuffle for the groupBy and reuses the
    key for the join — the correlated form would re-aggregate per
    outer row.  Ties (several suppliers at the min cost) are KEPT, as
    in Q2; output is order-insensitive.  Dimension chain
    supplier→nation→region is broadcast (constant-size); the part
    filter (p_size) prunes the probe side before the join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "cost_c"
        )
    )
    best = cost.groupBy("l_partkey").agg(F.min("cost_c").alias("best_c"))
    dim = (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == _Q2_REGION)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )
    return (
        cost.join(best, "l_partkey")
        .where(F.col("cost_c") == F.col("best_c"))
        .join(
            part.where(F.col("p_size") == _Q2_SIZE).select(
                "p_partkey", "p_brand", "p_type"
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("p_partkey").alias("partkey"),
            "p_brand",
            "p_type",
            "s_name",
            "nation",
            "cost_c",
        )
    )


ORACLE_MIN_COST_SUPPLIER = f"""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         min({_sql_cents("l_extendedprice * (1 - l_discount)")}) AS cost_c
  FROM lineitem GROUP BY 1, 2
)
SELECT p.p_partkey AS partkey, p.p_brand, p.p_type, s.s_name,
       n.n_name AS nation, co.cost_c
FROM cost co
JOIN part p ON co.l_partkey = p.p_partkey
JOIN supplier s ON co.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE p.p_size = {_Q2_SIZE} AND r.r_name = '{_Q2_REGION}'
  AND co.cost_c = (SELECT min(c2.cost_c) FROM cost c2
                   WHERE c2.l_partkey = co.l_partkey)
"""


# ---------------------------------------------------------------------------
# Q13 shape: customer order-count distribution (left outer + double agg)
# ---------------------------------------------------------------------------

_Q13_EXCL_PRIORITY = "1-URGENT"


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-customer order counts, INCLUDING the zero
    bucket (TPC-H Q13 shape).

    The join predicate filter (``o_orderpriority <> ...``) must live in
    the LEFT OUTER join condition, not a WHERE clause — a WHERE would
    silently drop the zero-order customers the query exists to count.
    Two aggregations: orders per customer (shuffle on custkey — the
    natural key, no skew), then the count histogram (tiny domain,
    map-side partials collapse it).  At 100 TB the first agg dominates
    and is one exchange; nothing is collected.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders.where(F.col("o_orderpriority") != _Q13_EXCL_PRIORITY).select(
                "o_orderkey", "o_custkey"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


ORACLE_CUSTOMER_ORDER_DIST = f"""
WITH co AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '{_Q13_EXCL_PRIORITY}'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count
"""


# ---------------------------------------------------------------------------
# Q15 shape: top-revenue supplier via scalar-subquery max
# ---------------------------------------------------------------------------

_Q15_START = "1996-01-01"
_Q15_END = "1996-04-01"


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) whose quarterly revenue equals the global maximum
    (TPC-H Q15 shape: scalar subquery over a derived view).

    The scalar max is a one-row aggregate broadcast-cross-joined into
    the revenue frame — the scale-safe form of ``WHERE r = (SELECT
    max(r) ...)``.  The alternative (``max() OVER ()``) funnels every
    supplier row through a single task; this plan keeps one shuffle
    (the suppkey groupBy) plus a broadcast of 16 bytes.  Revenue in
    integer 1e-4 cents so the equality compare is exact on both
    engines.  Ties would all be returned, matching the oracle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit(_Q15_START))
            & (F.col("l_shipdate") < F.lit(_Q15_END))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            ).alias("total_revenue_c4")
        )
    )
    best = rev.agg(F.max("total_revenue_c4").alias("best_c4"))
    return (
        rev.crossJoin(F.broadcast(best))
        .where(F.col("total_revenue_c4") == F.col("best_c4"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"), "s_name", "total_revenue_c4"
        )
    )


ORACLE_TOP_REVENUE_SUPPLIER = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum({_sql_cents("l_extendedprice * (1 - l_discount)", 4)}) AS BIGINT)
           AS total_revenue_c4
  FROM lineitem
  WHERE l_shipdate >= DATE '{_Q15_START}' AND l_shipdate < DATE '{_Q15_END}'
  GROUP BY l_suppkey
)
SELECT s_suppkey AS suppkey, s_name, total_revenue_c4
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue_c4 = (SELECT max(total_revenue_c4) FROM rev)
"""


# ---------------------------------------------------------------------------
# Q17 shape: small-quantity-order revenue (correlated AVG -> agg+join)
# ---------------------------------------------------------------------------


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue from lineitems whose quantity is below 20% of
    that part's average quantity (TPC-H Q17 shape, per-brand instead
    of the single-brand scalar so the result exercises grouping).

    Decorrelation: the correlated ``0.2 * avg(l_quantity)`` becomes a
    per-part (count, sum) aggregate joined back on partkey.  The float
    comparison ``qty < 0.2 * avg`` is replaced by the exact integer
    cross-multiplication ``5 * qty * cnt < sum`` — bit-identical on
    both engines, immune to double rounding (fixture quantities are
    integral; the cast asserts it).  avg_yearly is the classic /7.0,
    rounded from an exact integer-cents sum via an identical
    expression tree on both engines.
    """
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "qty_l", F.col("l_quantity").cast("long")
    )
    part = load_table(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("qty_l").alias("sum_qty")
    )
    return (
        li.join(per_part, "l_partkey")
        .where(F.lit(5) * F.col("qty_l") * F.col("cnt") < F.col("sum_qty"))
        .join(part.select("p_partkey", "p_brand"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.sum(cents("l_extendedprice")).alias("sum_price_c"),
        )
        .select(
            "p_brand",
            "n_small",
            "sum_price_c",
            F.round(F.col("sum_price_c").cast("double") / F.lit(7.0), 4).alias(
                "avg_yearly_c"
            ),
        )
    )


ORACLE_SMALL_QTY_REVENUE = f"""
WITH pa AS (
  SELECT l_partkey, count(*) AS cnt, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_partkey
), sel AS (
  SELECT p_brand, {_sql_cents("l_extendedprice")} AS price_c
  FROM lineitem l
  JOIN pa ON pa.l_partkey = l.l_partkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE 5 * CAST(l.l_quantity AS BIGINT) * pa.cnt < pa.sum_qty
)
SELECT p_brand, count(*) AS n_small,
       CAST(sum(price_c) AS BIGINT) AS sum_price_c,
       round(CAST(sum(price_c) AS DOUBLE) / 7.0, 4) AS avg_yearly_c
FROM sel GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# Q18 shape: large-quantity orders (HAVING-filtered IN subquery)
# ---------------------------------------------------------------------------

_Q18_MIN_QTY = 300


def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers holding orders whose total lineitem quantity exceeds
    a threshold (TPC-H Q18 shape).

    The oracle keeps the ``o_orderkey IN (SELECT ... HAVING sum > T)``
    form; the Spark plan computes the per-order quantity ONCE and
    inner-joins it — the IN-subquery would otherwise recompute the
    same aggregate as a semi-join against a second scan.  Shuffles: a
    groupBy on orderkey (natural, uniform), then joins that stay on
    the orderkey/custkey spine.  The qualifying set after HAVING is
    tiny (top ~0.3% of orders), so AQE broadcasts it into the
    orders/customer joins at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .where(F.col("sum_qty") > _Q18_MIN_QTY)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_name"),
              F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
            cents("o_totalprice").alias("totalprice_c"),
            "sum_qty",
        )
    )


ORACLE_LARGE_ORDER_CUSTOMERS = f"""
SELECT c_name, c_custkey AS custkey, o_orderkey AS orderkey,
       CAST(o_orderdate AS DATE) AS orderdate,
       {_sql_cents("o_totalprice")} AS totalprice_c,
       (SELECT CAST(sum(l_quantity) AS BIGINT) FROM lineitem
        WHERE l_orderkey = o_orderkey) AS sum_qty
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > {_Q18_MIN_QTY}
)
"""


# ---------------------------------------------------------------------------
# Q21 shape: the sole late supplier in multi-supplier orders
# ---------------------------------------------------------------------------

_Q21_LATE_DAYS = 365


def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier count of multi-supplier orders where THAT supplier
    was the only one to ship late (TPC-H Q21 shape; the fixture has no
    commit/receipt dates, so "late" = shipped more than a year after
    the order date).

    The oracle keeps Q21's two correlated probes (EXISTS another
    supplier in the order / NOT EXISTS another LATE supplier).  The
    Spark plan replaces both with conditional aggregation over the
    orderkey — two semi/anti join passes over lineitem become plain
    aggregations on a key the join with orders already required.

    The aggregation is deliberately TWO-LEVEL: ``countDistinct`` twice
    in one agg makes Spark rewrite through an Expand node (every joined
    row ×3 into a wide (orderkey, suppkey, case, gid) shuffle — plan
    read at sf0.1 showed exactly that).  Grouping by (orderkey,
    suppkey) with a boolean ``max(late)`` first dedups suppliers with a
    map-side-combinable narrow shuffle at 1× volume; the per-order
    counts then become plain count/sum over the tiny deduped frame.
    Same answers, one-third the shuffled bytes — at 100 TB the Expand
    form shuffles 3 copies of the joined fact table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {_Q21_LATE_DAYS} DAYS"
    )
    per_supp = (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late_any"))
    )
    per_order = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(F.when(F.col("late_any"), 1).otherwise(0))
            .cast("long")
            .alias("n_late_supp"),
            F.max(F.when(F.col("late_any"), F.col("l_suppkey"))).alias("late_supp"),
        )
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        per_order.groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
              F.col("late_supp") == F.col("s_suppkey"))
        .select(F.col("s_suppkey").alias("suppkey"), "s_name", "numwait")
    )


ORACLE_SOLE_LATE_SUPPLIER = f"""
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT s_suppkey AS suppkey, s_name,
       CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM li l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.is_late
  AND EXISTS (SELECT 1 FROM li l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM li l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.is_late)
GROUP BY s_suppkey, s_name
"""


# ---------------------------------------------------------------------------
# Q22 shape: wealthy customers gone idle (scalar avg + NOT EXISTS)
# ---------------------------------------------------------------------------

_Q22_IDLE_SINCE = "2001-01-01"


def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment count and balance of above-average-balance customers
    with no recent orders (TPC-H Q22 shape; segment plays the role of
    the phone country code, "idle" = no order since a cutoff because
    every fixture customer has SOME order).

    Two decorrelations in one query: the scalar ``avg(c_acctbal) WHERE
    positive`` becomes a one-row (sum, count) aggregate broadcast into
    the filter — compared via exact integer cross-multiplication
    ``bal_c * n > sum_c`` so no engine ever materializes a float
    average — and the correlated NOT EXISTS becomes a left-anti join
    against the date-pruned orders scan.  The anti join's right side
    shrinks with the date filter (partition-prunable on a ds-laid-out
    table); the left side is customer-scale, both hash-partitioned on
    custkey.
    """
    customer = load_table(spark, sf_dir, "customer").withColumn(
        "bal_c", cents("c_acctbal")
    )
    orders = load_table(spark, sf_dir, "orders")
    avgbal = customer.where(F.col("c_acctbal") > 0).agg(
        F.sum("bal_c").alias("sum_c"), F.count(F.lit(1)).alias("n_pos")
    )
    recent = orders.where(F.col("o_orderdate") >= F.lit(_Q22_IDLE_SINCE)).select(
        "o_custkey"
    )
    return (
        customer.crossJoin(F.broadcast(avgbal))
        .where(F.col("bal_c") * F.col("n_pos") > F.col("sum_c"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_c").alias("totacctbal_c"),
        )
    )


ORACLE_IDLE_CUSTOMER_BALANCE = f"""
WITH c AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         {_sql_cents("c_acctbal")} AS bal_c
  FROM customer
)
SELECT c_mktsegment, count(*) AS numcust,
       CAST(sum(bal_c) AS BIGINT) AS totacctbal_c
FROM c
WHERE bal_c * (SELECT count(*) FROM c WHERE c_acctbal > 0)
        > (SELECT CAST(sum(bal_c) AS BIGINT) FROM c WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= DATE '{_Q22_IDLE_SINCE}')
GROUP BY c_mktsegment
"""


#: dict the registry splices in: name -> (query fn, oracle sql or None)
ROUND5B_QUERIES: dict = {
    "min_cost_supplier": (q_min_cost_supplier, ORACLE_MIN_COST_SUPPLIER),
    "customer_order_distribution": (
        q_customer_order_distribution,
        ORACLE_CUSTOMER_ORDER_DIST,
    ),
    "top_revenue_supplier": (q_top_revenue_supplier, ORACLE_TOP_REVENUE_SUPPLIER),
    "small_qty_revenue": (q_small_qty_revenue, ORACLE_SMALL_QTY_REVENUE),
    "large_order_customers": (
        q_large_order_customers,
        ORACLE_LARGE_ORDER_CUSTOMERS,
    ),
    "sole_late_supplier": (q_sole_late_supplier, ORACLE_SOLE_LATE_SUPPLIER),
    "idle_customer_balance": (
        q_idle_customer_balance,
        ORACLE_IDLE_CUSTOMER_BALANCE,
    ),
}


# ---------------------------------------------------------------------------
# Q10 shape: returned-item top customers
# ---------------------------------------------------------------------------

_Q10_START = "1996-01-01"
_Q10_END = "1996-07-01"
_Q10_TOPN = 20


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top customers by revenue lost to returned items in a half-year
    window (TPC-H Q10 shape).

    The date filter prunes the orders scan BEFORE its join (pushed
    predicate), the returnflag filter prunes lineitem likewise, and
    the top-N is a TakeOrdered (never a global sort).  Joins stay on
    the orderkey/custkey spine; nation broadcasts.  Revenue in exact
    1e-4 cents so ordering ties are impossible across engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(
            orders.where(
                (F.col("o_orderdate") >= F.lit(_Q10_START))
                & (F.col("o_orderdate") < F.lit(_Q10_END))
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.sum(rev).alias("revenue_c4"))
        .orderBy(F.col("revenue_c4").desc(), F.col("c_custkey").asc())
        .limit(_Q10_TOPN)
    )


ORACLE_RETURNED_ITEM_CUSTOMERS = f"""
SELECT c_custkey, c_name, n_name AS nation,
       CAST(sum({_sql_cents("l_extendedprice * (1 - l_discount)", 4)}) AS BIGINT)
         AS revenue_c4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '{_Q10_START}' AND o_orderdate < DATE '{_Q10_END}'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_c4 DESC, c_custkey ASC
LIMIT {_Q10_TOPN}
"""


# ---------------------------------------------------------------------------
# Q16 shape: supplier diversity with NOT-IN exclusion
# ---------------------------------------------------------------------------

_Q16_SIZES = (15, 25, 35)


def q_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier counts per (brand, size) for selected sizes,
    EXCLUDING disqualified suppliers (TPC-H Q16 shape; the exclusion
    set is negative-balance suppliers, the fixture's stand-in for the
    complaints filter; part×supplier pairs derive from lineitem).

    The NOT IN subquery becomes a broadcast LEFT ANTI join against the
    (tiny) exclusion set — the three-valued-logic trap of NOT IN with
    nullable columns is pinned separately in `not_in_three_valued`;
    here suppkeys are non-null so anti-join semantics coincide.
    countDistinct shuffles (brand, size, suppkey) once with map-side
    partial dedup.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    excluded = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(
            part.where(F.col("p_size").isin(list(_Q16_SIZES))).select(
                "p_partkey", "p_brand", "p_size"
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(excluded),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


ORACLE_SUPPLIER_DIVERSITY = f"""
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size IN {_Q16_SIZES}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


# ---------------------------------------------------------------------------
# Q20 shape: nested-semi-join chain (excess-stock suppliers)
# ---------------------------------------------------------------------------

_Q20_NAME_PREFIX = "red%"
_Q20_YEAR_START = "1996-01-01"
_Q20_YEAR_END = "1997-01-01"
_Q20_MIN_QTY = 60


def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who moved an excess quantity of any 'red' part during
    one year (TPC-H Q20 shape: a chain of nested IN subqueries).

    The literal form is three nested INs (supplier IN (... part IN
    (...) ... quantity > (SELECT ...))); the Spark plan flattens the
    chain into aggregates + semi-joins running INward-out: per
    (part, supplier) year quantities (one groupBy on an already-
    needed key), semi-joined to the name-filtered part side, HAVING
    the threshold, then a final semi-join onto supplier.  Every step
    is keyed; nothing correlates per outer row.  The nation broadcast
    caps the output dimension.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    agg = (
        li.where(
            (F.col("l_shipdate") >= F.lit(_Q20_YEAR_START))
            & (F.col("l_shipdate") < F.lit(_Q20_YEAR_END))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .where(F.col("sum_qty") > _Q20_MIN_QTY)
    )
    red = part.where(F.col("p_name").like(_Q20_NAME_PREFIX.replace("%", "") + "%")).select(
        "p_partkey"
    )
    excess = (
        agg.join(red, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            "s_name",
            F.col("n_name").alias("nation"),
        )
    )


ORACLE_EXCESS_STOCK_SUPPLIERS = f"""
SELECT s_suppkey AS suppkey, s_name, n_name AS nation
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_name LIKE '{_Q20_NAME_PREFIX}')
    AND l_shipdate >= DATE '{_Q20_YEAR_START}'
    AND l_shipdate < DATE '{_Q20_YEAR_END}'
  GROUP BY l_partkey, l_suppkey
  HAVING CAST(sum(l_quantity) AS BIGINT) > {_Q20_MIN_QTY}
)
"""


ROUND5B_QUERIES["returned_item_customers"] = (
    q_returned_item_customers,
    ORACLE_RETURNED_ITEM_CUSTOMERS,
)
ROUND5B_QUERIES["supplier_diversity"] = (
    q_supplier_diversity,
    ORACLE_SUPPLIER_DIVERSITY,
)
ROUND5B_QUERIES["excess_stock_suppliers"] = (
    q_excess_stock_suppliers,
    ORACLE_EXCESS_STOCK_SUPPLIERS,
)


# ---------------------------------------------------------------------------
# Q9 shape: product profit by nation and year
# ---------------------------------------------------------------------------

_Q9_NAME_TOKEN = "red"


def q_product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on a product line per supplier nation per year (TPC-H Q9
    shape; the fixture has no partsupp.ps_supplycost, so cost is the
    documented proxy 60% of p_retailprice — the join topology and the
    profit expression structure are what this query pins).

    Six relations: lineitem joins part (name-token filter pruned
    before the join), supplier, orders (for the year), nation
    (broadcast). profit = revenue − cost·quantity in exact integer
    cents computed per line BEFORE aggregation — the sum is one
    combinable aggregate; no float money ever crosses an exchange.
    Join order: the name filter cuts part to a fraction, so AQE
    broadcasts the filtered part side into the fact scan first — the
    Q9 plan risk (joining orders before part explodes the
    intermediate) is left to the optimizer and pinned by the runtime
    bloom/broadcast tests rather than hints.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    profit_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))) - (
        cents(F.col("p_retailprice") * F.lit(0.6)) * F.col("l_quantity").cast("long")
    )
    return (
        li.join(
            part.where(F.col("p_name").contains(_Q9_NAME_TOKEN)).select(
                "p_partkey", "p_retailprice"
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(profit_c).alias("profit_c"),
        )
    )


ORACLE_PRODUCT_PROFIT = f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       count(*) AS n_lines,
       CAST(sum({_sql_cents("l_extendedprice * (1 - l_discount)")}
                - {_sql_cents("p_retailprice * 0.6")}
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_c
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%{_Q9_NAME_TOKEN}%'
GROUP BY n_name, year(o_orderdate)
"""


ROUND5B_QUERIES["product_profit_by_nation"] = (
    q_product_profit_by_nation,
    ORACLE_PRODUCT_PROFIT,
)
