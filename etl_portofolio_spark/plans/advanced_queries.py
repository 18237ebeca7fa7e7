"""Round-3 extension queries: sub-document dedup, calendar gap-fill,
exact statistics, grouping sets, histograms, trailing range windows.

Same contract as the sibling plan modules: every query is a pure
DataFrame plan over ``catalog.load_table`` with an exact DuckDB oracle.
Cross-engine determinism rules applied throughout:

- money/measures as integer cents (``cents()``), sums cast to BIGINT;
- double outputs only when both engines evaluate the IDENTICAL
  expression tree over exact integers (IEEE ops are deterministic), and
  still rounded as a belt;
- window frames are RANGE over integer day numbers so tie handling is
  frame-defined, not order-defined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.operators import dedup, timeseries
from etl_portofolio_spark.plans.analytics_queries import cents, _sql_cents

# --- sub-document (paragraph/chunk) dedup -----------------------------------

_CHUNK_WORDS = 12


def q_dedup_paragraph_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide chunk-level dedup: repeated 12-token windows are
    dropped (first occurrence kept), docs rebuilt from surviving
    chunks. The paragraph-dedup shape used on real corpora (explode →
    global first-occurrence election → reassembly), with a fixed-width
    chunker standing in for newline paragraph splits."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.chunk_dedup_docs(docs, "doc_id", "text", _CHUNK_WORDS)


ORACLE_PARAGRAPH_CHUNKS = rf"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
), idx AS (
  SELECT doc_id, t,
         unnest(range(0, CAST(ceil(len(t) / {_CHUNK_WORDS}.0) AS INT))) AS chunk_idx
  FROM tok
), ch AS (
  SELECT doc_id, chunk_idx,
         array_to_string(
           list_slice(t, chunk_idx * {_CHUNK_WORDS} + 1,
                         chunk_idx * {_CHUNK_WORDS} + {_CHUNK_WORDS}), ' ') AS chunk
  FROM idx
), elected AS (
  SELECT doc_id, chunk_idx, chunk,
         row_number() OVER (
           PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) = 1 AS keep
  FROM ch
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CASE WHEN sum(CASE WHEN keep THEN 1 ELSE 0 END) > 0
            THEN md5(string_agg(CASE WHEN keep THEN chunk END, ' '
                                ORDER BY chunk_idx))
       END AS kept_hash
FROM elected
GROUP BY doc_id
"""


# --- calendar spine gap-fill -------------------------------------------------

_SPINE_MIN_VALUE = 300


def q_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily high-value purchase rollup on a COMPLETE calendar spine:
    days with no qualifying events appear with explicit zeros and a
    was_gap flag. The spine is a single-row min/max aggregate exploded
    into |days| rows and broadcast — the fact side shuffles once."""
    events = load_table(spark, sf_dir, "events")
    purch = events.where(
        (F.col("event_type") == "purchase") & (F.col("value") > _SPINE_MIN_VALUE)
    ).select(F.to_date("ts").alias("d"), cents("value").alias("vc"))
    daily = purch.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("vc").alias("revenue_c"),
    )
    spine = timeseries.date_spine(purch, "d")
    return timeseries.gapfill_daily(
        daily, spine, "d", ["n_purchases", "revenue_c"]
    )


ORACLE_DATE_SPINE = f"""
WITH p AS (
  SELECT CAST(ts AS DATE) AS d, {_sql_cents("value")} AS vc
  FROM events
  WHERE event_type = 'purchase' AND value > {_SPINE_MIN_VALUE}
), daily AS (
  SELECT d, count(*) AS n_purchases, CAST(sum(vc) AS BIGINT) AS revenue_c
  FROM p GROUP BY d
), b AS (
  SELECT min(d) AS lo, max(d) AS hi FROM p
), spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                     CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS d
  FROM b WHERE lo IS NOT NULL
)
SELECT s.d,
       coalesce(daily.n_purchases, 0) AS n_purchases,
       coalesce(daily.revenue_c, 0) AS revenue_c,
       daily.n_purchases IS NULL AS was_gap
FROM spine s LEFT JOIN daily USING (d)
"""


# --- exact percentile bands --------------------------------------------------


def q_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolating) percentiles of quantity per return flag.

    ``percentile`` is Spark's exact sort-based aggregate — the right
    tool when the group count is tiny and the groups are large; the
    sketch-based ``percentile_approx`` is the 100 TB default when the
    group count explodes (see quantile_outlier_filter, which uses it).
    Values interpolate between small integers, so doubles are exact;
    rounded to 6 dp as a cross-engine belt anyway."""
    li = load_table(spark, sf_dir, "lineitem")
    q = lambda p: F.round(F.percentile("l_quantity", F.lit(p)), 6)  # noqa: E731
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            q(0.25).alias("p25"),
            q(0.5).alias("p50"),
            q(0.75).alias("p75"),
            q(0.99).alias("p99"),
        )
    )


ORACLE_PERCENTILE_BANDS = """
SELECT l_returnflag,
       count(*) AS n_items,
       round(quantile_cont(l_quantity, 0.25), 6) AS p25,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
       round(quantile_cont(l_quantity, 0.75), 6) AS p75,
       round(quantile_cont(l_quantity, 0.99), 6) AS p99
FROM lineitem
GROUP BY l_returnflag
"""


# --- exact-integer correlation / covariance ----------------------------------


def q_stats_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance of (quantity, price) per
    return flag — computed from EXACT integer sums (decimal(38,0)
    accumulators over cents), with the closed-form double arithmetic
    applied once per group. Both engines fold identical integers and
    then evaluate the identical IEEE expression tree, so the doubles
    match bit-for-bit (rounded as a belt). The naive streaming
    ``corr()`` aggregate is order-dependent in floating point — this
    formulation is the scale-safe, deterministic variant: partial sums
    merge algebraically across any partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    x = cents("l_quantity")
    y = cents("l_extendedprice")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dec(x)).alias("__sx"),
        F.sum(dec(y)).alias("__sy"),
        F.sum(dec(x * x)).alias("__sxx"),
        F.sum(dec(y * y)).alias("__syy"),
        F.sum(dec(x * y)).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    covar = (sxy - sx * sy / n) / (n - 1)
    return agg.select(
        "l_returnflag",
        F.col("__n").alias("n_items"),
        F.round(corr, 9).alias("corr_qty_price"),
        F.round(covar, 4).alias("covar_c"),
    )


_SQL_X = _sql_cents("l_quantity")
_SQL_Y = _sql_cents("l_extendedprice")
ORACLE_STATS_CORR = f"""
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(CAST({_SQL_X} AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST({_SQL_Y} AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST({_SQL_X} * {_SQL_X} AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST({_SQL_Y} * {_SQL_Y} AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(sum(CAST({_SQL_X} * {_SQL_Y} AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       n AS n_items,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 9) AS corr_qty_price,
       round((sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 4)
         AS covar_c
FROM s
"""


# --- approximate distinct with tolerance gate --------------------------------


def q_approx_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs HLL distinct-user counts per event type. The hashed
    output carries the EXACT count plus a boolean 'sketch within 10%'
    gate — the sketch value itself is engine-specific (different HLL
    implementations), the accuracy contract is not. At 100 TB the
    approx variant is one map-side-mergeable pass where exact distinct
    is two shuffles."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.approx_count_distinct("user_id").alias("__approx"),
        )
        .select(
            "event_type",
            "n_users",
            (
                F.abs(F.col("__approx") - F.col("n_users"))
                <= 0.1 * F.col("n_users")
            ).alias("approx_ok"),
        )
    )


ORACLE_APPROX_DISTINCT = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
         <= 0.1 * count(DISTINCT user_id) AS approx_ok
FROM events
GROUP BY event_type
"""


# --- grouping sets -----------------------------------------------------------


def q_grouping_sets_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — (priority, status), (priority), () —
    with per-column grouping flags (per-column flags agree across
    engines; combined grouping_id bitmasks do not). One pass: Spark
    expands the sets via a single Expand node, not three scans."""
    orders = load_table(spark, sf_dir, "orders")
    pr, st = F.col("o_orderpriority"), F.col("o_orderstatus")
    return (
        orders.groupingSets([[pr, st], [pr], []], pr, st)
        .agg(
            # grouping() is only resolvable inside the grouping-sets
            # aggregate itself, not a downstream projection
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("total_c"),
        )
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "g_priority",
            "g_status",
            "n_orders",
            "total_c",
        )
    )


ORACLE_GROUPING_SETS = f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       count(*) AS n_orders,
       CAST(sum({_sql_cents("o_totalprice")}) AS BIGINT) AS total_c
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
"""


# --- fixed-width histogram ---------------------------------------------------

_HIST_WIDTH_C = 1_000_000  # $10k buckets over integer cents
_HIST_BUCKETS = 12


def q_histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of extended price: bucket index computed
    with identical floor-divide arithmetic in both engines (exact —
    cents are integers far below 2^53), top bucket clamps the tail.
    One map-side-combinable aggregation on a 12-value key."""
    li = load_table(spark, sf_dir, "lineitem")
    pc = cents("l_extendedprice")
    bucket = F.least(
        F.floor(pc.cast("double") / float(_HIST_WIDTH_C)),
        F.lit(_HIST_BUCKETS - 1),
    ).cast("long")
    return (
        li.select(bucket.alias("bucket_id"), pc.alias("pc"))
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("pc").alias("sum_price_c"),
        )
        .withColumn(
            "lo_dollars", F.col("bucket_id") * F.lit(_HIST_WIDTH_C // 100)
        )
    )


ORACLE_HISTOGRAM = f"""
WITH b AS (
  SELECT least(CAST(floor(CAST({_sql_cents("l_extendedprice")} AS DOUBLE)
                          / {_HIST_WIDTH_C}.0) AS BIGINT),
               {_HIST_BUCKETS - 1}) AS bucket_id,
         {_sql_cents("l_extendedprice")} AS pc
  FROM lineitem
)
SELECT bucket_id,
       count(*) AS n_items,
       CAST(sum(pc) AS BIGINT) AS sum_price_c,
       bucket_id * {_HIST_WIDTH_C // 100} AS lo_dollars
FROM b
GROUP BY bucket_id
"""


# --- trailing range-frame window ---------------------------------------------


def q_trailing_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer trailing 7-day order revenue via a RANGE frame over
    an integer day number — all same-day peers are in frame, so the
    result is deterministic under intra-day ties (a ROWS frame would
    not be). One shuffle on o_custkey."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("od"),
        cents("o_totalprice").alias("tc"),
    )
    day = F.datediff(F.col("od"), F.lit("1970-01-01").cast("date"))
    return timeseries.trailing_range_sum(
        o, "o_custkey", day, F.col("tc"), 7, "trail7_c"
    ).select("o_custkey", "o_orderkey", "od", "trail7_c")


ORACLE_TRAILING_7D = f"""
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS od,
       CAST(sum({_sql_cents("o_totalprice")}) OVER (
         PARTITION BY o_custkey
         ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS trail7_c
FROM orders
"""


# --- retention cohorts -------------------------------------------------------


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen WEEK, counted per
    activity-week offset. Week index = floor(epoch-days / 7) — pure
    integer arithmetic, identical in both engines (calendar month/week
    truncation conventions are avoided entirely). Two key-partitioned
    aggregations plus one join; the per-user first-seen frame is the
    small side and is broadcast."""
    events = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    wk = lambda c: F.floor(F.datediff(c, epoch) / F.lit(7.0))  # noqa: E731
    first = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("__first_d")
    )
    cohorts = first.select(
        "user_id",
        wk(F.col("__first_d")).alias("cohort_week"),
    )
    activity = (
        events.select("user_id", wk(F.to_date("ts")).alias("__act_w")).distinct()
    )
    return (
        activity.join(F.broadcast(cohorts), "user_id")
        .select(
            "cohort_week",
            (F.col("__act_w") - F.col("cohort_week")).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


ORACLE_RETENTION = """
WITH first AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_d
  FROM events GROUP BY user_id
), cohorts AS (
  SELECT user_id,
         CAST(floor((first_d - DATE '1970-01-01') / 7.0) AS BIGINT) AS cohort_week
  FROM first
), activity AS (
  SELECT DISTINCT user_id,
         CAST(floor((CAST(ts AS DATE) - DATE '1970-01-01') / 7.0) AS BIGINT) AS act_w
  FROM events
)
SELECT c.cohort_week,
       a.act_w - c.cohort_week AS week_offset,
       count(DISTINCT a.user_id) AS n_users
FROM activity a JOIN cohorts c USING (user_id)
GROUP BY c.cohort_week, a.act_w - c.cohort_week
"""


# --- event transition matrix -------------------------------------------------


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition counts + probabilities per
    user journey (lag over (ts, event_id) — the id tiebreak makes the
    sequence total). The probability divide happens once per (prev,
    cur) pair on exact BIGINT counts, identically in both engines.
    One shuffle for the window, one for the pair count."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        events.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as W2

    total = F.sum("n").over(W2.partitionBy("prev_type"))
    return pairs.select(
        "prev_type",
        "event_type",
        "n",
        F.round(F.col("n").cast("double") / total.cast("double"), 9).alias("p"),
    )


ORACLE_TRANSITIONS = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS prev_type,
         event_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, event_type, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 9) AS p
FROM pairs
"""


# --- TPC-H Q7 shape: nation-pair trade volume --------------------------------


def q_nation_volume_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nation-pair revenue (TPC-H Q7 shape): one dim
    chain per side (orders→customer→nation and supplier→nation).

    Broadcast hints go ONLY on the constant-size dims (nation: 25
    rows; supplier: small per SF). orders/customer grow with the fact
    table — forcing broadcast there would be a 100 TB scale-killer, so
    their joins are left to AQE: broadcast at small SF, shuffle-hash on
    the join key at scale (both sides key-partitioned, no skew on
    orderkey/custkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .where(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).alias("revenue_c4"),
        )
    )


ORACLE_NATION_VOLUME = f"""
SELECT n2.n_name AS supp_nation,
       n1.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       count(*) AS n_items,
       CAST(sum({_sql_cents("l_extendedprice * (1 - l_discount)", 4)}) AS BIGINT)
         AS revenue_c4
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY n2.n_name, n1.n_name, year(l_shipdate)
"""


# --- TPC-H Q19 shape: disjunction of conjunctions -----------------------------


def q_disjunctive_pred_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs predicate across a join (TPC-H Q19 shape). Catalyst
    extracts the common join key, pushes the shared conjuncts into both
    scans, and evaluates the residual disjunction post-join — the probe
    for 'does a messy business predicate still prune at the scan'."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    cond = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_type") == "ECONOMY")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(20, 40)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).alias("revenue_c4"),
        )
    )


ORACLE_DISJUNCTIVE = f"""
SELECT count(*) AS n_items,
       CAST(sum({_sql_cents("l_extendedprice * (1 - l_discount)", 4)}) AS BIGINT)
         AS revenue_c4
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_type = 'ECONOMY' AND p_size BETWEEN 5 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#17' AND p_size BETWEEN 20 AND 40
       AND l_quantity BETWEEN 20 AND 50)
"""


# --- corpus vocabulary -------------------------------------------------------


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide vocabulary: token frequencies with doc frequency,
    top 100 by (count desc, token asc — total order, so the LIMIT is
    deterministic). One explode + one map-side-combinable aggregation
    + TakeOrdered; the classic vocab-build pass over a corpus."""
    docs = load_table(spark, sf_dir, "documents")
    from etl_portofolio_spark.operators.text import tokens
    from etl_portofolio_spark.operators.util import spread

    tok = spread(docs).select(
        F.col("doc_id"), F.explode(tokens("text")).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(100)
    )


ORACLE_VOCAB = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
  FROM documents
)
SELECT token,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM tok
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 100
"""


# --- latest row per key via max_by (aggregate, not window) -------------------


def q_latest_order_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest order per customer via ``max_by`` over a packed sort key
    (epoch-day * 2^20 + orderkey — exact, total, tie-free).

    This is the scale-preferred shape for "latest row per key": ONE
    algebraic aggregation with map-side partials, versus the window
    row_number pattern's full sort of every partition. At 100 TB the
    sort is the bottleneck; max_by never sorts."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    sortkey = (day.cast("long") * F.lit(1 << 20)) + F.col("o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            sortkey.alias("__sk"),
            cents("o_totalprice").alias("tc"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max_by("o_orderkey", F.col("__sk")).alias("last_orderkey"),
            F.max_by("tc", F.col("__sk")).alias("last_total_c"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


ORACLE_LATEST_MAXBY = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           * {1 << 20} + o_orderkey AS sk,
         {_sql_cents("o_totalprice")} AS tc
  FROM orders
)
SELECT o_custkey,
       max_by(o_orderkey, sk) AS last_orderkey,
       max_by(tc, sk) AS last_total_c,
       count(*) AS n_orders
FROM o
GROUP BY o_custkey
"""


# --- incremental aggregate maintenance ---------------------------------------


def q_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: yesterday's rollup + today's
    delta, merged ALGEBRAICALLY (sum/count/min/max partials), must
    equal the full recompute. This is the daily-job contract the
    reference's incremental pipelines imply — at 100 TB the merge
    touches |groups| rows of state + one day of data instead of the
    whole history. The query outputs the MERGED result; the oracle
    recomputes from scratch, so any non-mergeable aggregate sneaking in
    fails the hash."""
    events = load_table(spark, sf_dir, "events")
    last_day = events.agg(F.max(F.to_date("ts"))).first()[0]

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_c"),
            F.min(cents("value")).alias("min_c"),
            F.max(cents("value")).alias("max_c"),
        )

    history = rollup(events.where(F.to_date("ts") < F.lit(last_day)))
    delta = rollup(events.where(F.to_date("ts") == F.lit(last_day)))
    merged = (
        history.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_c").alias("value_c"),
            F.min("min_c").alias("min_c"),
            F.max("max_c").alias("max_c"),
        )
    )
    return merged


ORACLE_INCREMENTAL_ROLLUP = f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum({_sql_cents("value")}) AS BIGINT) AS value_c,
       min({_sql_cents("value")}) AS min_c,
       max({_sql_cents("value")}) AS max_c
FROM events
GROUP BY event_type
"""


# --- recursive CTE -----------------------------------------------------------


def q_recursive_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4) walking each customer's order chain in
    date order, accumulating revenue step by step — the linked-list
    traversal shape (successor edges form an acyclic path, so UNION ALL
    recursion terminates at the longest per-customer chain). The oracle
    is the INDEPENDENT non-recursive formulation (window running sum):
    two different algorithms must produce identical rows."""
    from etl_portofolio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(f"""
    WITH RECURSIVE o AS (
      SELECT o_custkey, o_orderkey,
             {_sql_cents("o_totalprice")} AS tc,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
      FROM orders
    ), chain AS (
      SELECT o_custkey, o_orderkey, rn, tc AS cum_c FROM o WHERE rn = 1
      UNION ALL
      SELECT o.o_custkey, o.o_orderkey, o.rn, c.cum_c + o.tc AS cum_c
      FROM chain c JOIN o ON o.o_custkey = c.o_custkey AND o.rn = c.rn + 1
    )
    SELECT o_custkey, o_orderkey,
           CAST(rn AS INT) AS step_idx,
           CAST(cum_c AS BIGINT) AS cum_c
    FROM chain
    """)


ORACLE_RECURSIVE_CHAIN = f"""
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS INT) AS step_idx,
       CAST(sum({_sql_cents("o_totalprice")}) OVER (
         PARTITION BY o_custkey
         ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


# --- gaps and islands --------------------------------------------------------


def q_user_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-day activity streaks per user via
    the classic ``day_index - row_number`` island key (constant within
    a run of consecutive days, jumps at every gap). Two key-partitioned
    window/agg passes over the DISTINCT (user, day) frame — which is
    |users|×|days| at most, tiny relative to the event fact."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    days = (
        events.select(
            "user_id", F.datediff(F.to_date("ts"), epoch).alias("day_n")
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy(F.col("day_n").asc())
    isl = days.withColumn(
        "__island", F.col("day_n") - F.row_number().over(w)
    )
    streaks = isl.groupBy("user_id", "__island").agg(
        F.count(F.lit(1)).alias("__len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("__len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("__len").alias("max_streak_days"),
    )


ORACLE_ACTIVE_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(ts AS DATE) - DATE '1970-01-01' AS day_n
  FROM events
), isl AS (
  SELECT user_id, day_n,
         day_n - row_number() OVER (PARTITION BY user_id
                                    ORDER BY day_n ASC) AS island
  FROM days
), streaks AS (
  SELECT user_id, island, count(*) AS len
  FROM isl GROUP BY user_id, island
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       count(*) AS n_streaks,
       CAST(max(len) AS BIGINT) AS max_streak_days
FROM streaks
GROUP BY user_id
"""


# --- bitmap day-mask encoding ------------------------------------------------


def q_user_day_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity as a BITMAP over day indexes (bit i = active on
    min_date + i): one bit_or-style aggregation replaces a distinct-
    count (bit_or is idempotent — no pre-dedup shuffle) AND keeps
    set-algebra cheap downstream (AND/OR of masks for
    co-activity, popcount for counts). Fits 64-bit longs because the
    fixture spans < 64 days; the same shape shards into (user, epoch
    week) masks at scale. bit_count agrees across engines."""
    events = load_table(spark, sf_dir, "events")
    lo = events.agg(F.min(F.to_date("ts"))).first()[0]
    day_idx = F.datediff(F.to_date("ts"), F.lit(lo))
    # python-side F.shiftleft takes a literal bit count; the SQL form
    # accepts a column operand
    masks = (
        events.select("user_id", day_idx.alias("__di"))
        .select(
            "user_id",
            F.expr("shiftleft(CAST(1 AS BIGINT), __di)").alias("__bit"),
        )
        .groupBy("user_id")
        .agg(F.bit_or("__bit").alias("day_mask"))
    )
    return masks.select(
        "user_id",
        "day_mask",
        F.bit_count("day_mask").cast("int").alias("n_active_days"),
    )


def _oracle_user_day_bitmap() -> str:
    return """
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS lo FROM events
), bits AS (
  SELECT user_id,
         CAST(1 AS BIGINT) << (CAST(ts AS DATE) - (SELECT lo FROM b)) AS bit
  FROM events
)
SELECT user_id,
       CAST(bit_or(bit) AS BIGINT) AS day_mask,
       CAST(bit_count(CAST(bit_or(bit) AS BIGINT)) AS INT) AS n_active_days
FROM bits
GROUP BY user_id
"""


# --- real media-content decode ------------------------------------------------


def q_multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL content-level media decode: BMP payloads whose every pixel
    byte — and WAV payloads whose every PCM sample — carry an
    md5-derived value; the decoder recovers mean pixel level / RMS
    from the raw bytes (through the BMP row stride and the WAV chunk
    walk). The oracle recomputes the embedded values from md5(text) in
    SQL: a stride or chunk-walk bug shifts the decoded statistics and
    fails the hash. ONE Arrow mapInPandas crossing (fused
    synthesize+decode: the chained two-operator form ships every BMP/WAV
    payload across the JVM<->Python boundary twice; the fused operator
    is built from the same two per-doc helpers, so the decoded bytes
    are identical)."""
    from etl_portofolio_spark.operators.multimodal import synthesize_filled_pixel_stats
    from etl_portofolio_spark.operators.util import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    return synthesize_filled_pixel_stats(docs, id_col="doc_id", text_col="text")


_MD5_INT = "CAST('0x' || substr(md5(text), {a}, {n}) AS BIGINT)"
ORACLE_PIXEL_STATS = f"""
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS kind,
       CAST(CASE WHEN doc_id % 2 = 0
            THEN (1 + {_MD5_INT.format(a=1, n=4)} % 64)
                 * (1 + {_MD5_INT.format(a=5, n=4)} % 48) * 3
            ELSE (1 + {_MD5_INT.format(a=15, n=4)} % 256)
                 * (1 + {_MD5_INT.format(a=9, n=2)} % 2)
       END AS BIGINT) AS n_units,
       CAST(CASE WHEN doc_id % 2 = 0
            THEN {_MD5_INT.format(a=19, n=2)}
            ELSE abs({_MD5_INT.format(a=19, n=4)} % 2001 - 1000)
       END AS DOUBLE) AS level
FROM documents
"""


# --- multiset set operations -------------------------------------------------


def q_multiset_ops_orderdays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the multiset halves of the set-op
    family (the distinct halves live in set_ops_customers). Operand:
    (custkey, order day) bags from two priority classes; duplicate
    rows carry multiplicity through both operators. Spark plans these
    as aggregate+generate over counts — one shuffle per operand, no
    join explosion."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.to_date("o_orderdate").alias("d")
    urgent = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_custkey", day)
    slow = orders.where(
        ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_custkey", day)
    both = urgent.intersectAll(slow).select(
        "o_custkey", "d", F.lit("both").alias("leg")
    )
    only_urgent = urgent.exceptAll(slow).select(
        "o_custkey", "d", F.lit("urgent_only").alias("leg")
    )
    return both.unionAll(only_urgent)


ORACLE_MULTISET_OPS = """
WITH urgent AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
), slow AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
  WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
)
SELECT o_custkey, d, 'both' AS leg
FROM (SELECT * FROM urgent INTERSECT ALL SELECT * FROM slow)
UNION ALL
SELECT o_custkey, d, 'urgent_only' AS leg
FROM (SELECT * FROM urgent EXCEPT ALL SELECT * FROM slow)
"""


# --- day-over-day deltas on an aggregated series -----------------------------


def q_nation_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue per customer nation with day-over-day delta: a
    window (lag) over an ALREADY-AGGREGATED series — the aggregation
    shrinks the data to |nations|×|days| rows first, so the window sort
    is over a tiny frame regardless of fact size. Ordering this the
    other way (window over the fact) is the classic scale mistake."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    daily = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.to_date("l_shipdate").alias("d"))
        .agg(F.sum(rev).alias("revenue_c4"))
    )
    w = Window.partitionBy("nation").orderBy(F.col("d").asc())
    prev = F.lag("revenue_c4").over(w)
    return daily.select(
        "nation",
        "d",
        "revenue_c4",
        (F.col("revenue_c4") - prev).alias("delta_c4"),
    )


ORACLE_NATION_DOD = f"""
WITH daily AS (
  SELECT n_name AS nation,
         CAST(l_shipdate AS DATE) AS d,
         CAST(sum({_sql_cents("l_extendedprice * (1 - l_discount)", 4)}) AS BIGINT)
           AS revenue_c4
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, CAST(l_shipdate AS DATE)
)
SELECT nation, d, revenue_c4,
       revenue_c4 - lag(revenue_c4) OVER (
         PARTITION BY nation ORDER BY d ASC) AS delta_c4
FROM daily
"""


# --- SQL-string interface ----------------------------------------------------

#: Dialect-neutral SQL run VERBATIM on both engines — the reference's
#: registerTempTable + embedded-SQL surface (`Processing Data.py:188`)
#: re-expressed: same text is the Spark query AND the DuckDB oracle.
_SQL_INTERFACE_TEXT = """
SELECT n_name AS nation,
       o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_c
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, o_orderpriority
"""


def q_sql_interface_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL-string surface: temp views + ``spark.sql`` —
    the reference's embedded-SQL interaction model. The statement is
    dialect-neutral and doubles, unmodified, as its own oracle; Catalyst
    plans it identically to the DataFrame equivalent (same pushdown,
    same broadcasts)."""
    from etl_portofolio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("customer", "orders", "nation"))
    return spark.sql(_SQL_INTERFACE_TEXT)


# --- distribution window functions -------------------------------------------


def q_window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile over one ordered spec — the
    distribution third of the window-function family (ranking and value
    families are covered elsewhere). The (price, orderkey) tiebreak
    makes the order total, so every output is deterministic. One
    shuffle + one sort per partition, all three functions in a single
    Window operator."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        cents("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        cents("o_totalprice").alias("total_c"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


ORACLE_DISTRIBUTION_RANKS = f"""
SELECT o_orderpriority, o_orderkey,
       {_sql_cents("o_totalprice")} AS total_c,
       round(percent_rank() OVER w, 9) AS pct_rank,
       round(cume_dist() OVER w, 9) AS cume,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY {_sql_cents("o_totalprice")} ASC, o_orderkey ASC)
"""


# --- data-quality funnel -----------------------------------------------------


def q_quality_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus-cleaning funnel: docs charged to the first
    quality rule they fail, survivors counted — the observability
    report of a filtering pipeline. All rules are exact-integer
    comparisons (cross-multiplied ratios), single map-side-combinable
    pass."""
    from etl_portofolio_spark.operators.text import quality_funnel_report

    docs = load_table(spark, sf_dir, "documents")
    return quality_funnel_report(docs, "text", "source")


def _oracle_quality_funnel() -> str:
    from etl_portofolio_spark.operators.text import FUNNEL_RULES, LANG_STOPWORDS

    sql_tokens = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    rule_counts = ",\n       ".join(
        f"CAST(sum(CASE WHEN verdict = '{r}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS r_{r}"
        for r in FUNNEL_RULES
    )
    return rf"""
WITH f AS (
  SELECT source, length(text) AS n_chars, {sql_tokens} AS t,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))
           AS p_cnt
  FROM documents
), g AS (
  SELECT source, n_chars, len(t) AS n_toks, p_cnt,
         len(list_filter(t, x -> list_contains({list(LANG_STOPWORDS["en"])}, x)))
           AS stop_hits,
         len(list_distinct(t)) AS n_distinct
  FROM f
), v AS (
  SELECT source,
         CASE WHEN n_toks < 8 THEN 'too_short'
              WHEN p_cnt * 10 >= n_chars THEN 'punct_heavy'
              WHEN stop_hits * 50 < n_toks THEN 'low_stopword'
              WHEN n_distinct * 2 < n_toks THEN 'repetitive'
              ELSE 'pass' END AS verdict
  FROM g
)
SELECT source,
       count(*) AS n_docs,
       {rule_counts},
       CAST(sum(CASE WHEN verdict = 'pass' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_survivors
FROM v
GROUP BY source
"""


ADVANCED_QUERIES = {
    "dedup_paragraph_chunks": (q_dedup_paragraph_chunks, ORACLE_PARAGRAPH_CHUNKS),
    "date_spine_gapfill": (q_date_spine_gapfill, ORACLE_DATE_SPINE),
    "percentile_bands": (q_percentile_bands, ORACLE_PERCENTILE_BANDS),
    "stats_corr_exact": (q_stats_corr_exact, ORACLE_STATS_CORR),
    "approx_distinct_gate": (q_approx_distinct_gate, ORACLE_APPROX_DISTINCT),
    "grouping_sets_priority": (q_grouping_sets_priority, ORACLE_GROUPING_SETS),
    "histogram_price": (q_histogram_price, ORACLE_HISTOGRAM),
    "trailing_7d_revenue": (q_trailing_7d_revenue, ORACLE_TRAILING_7D),
    "retention_cohorts": (q_retention_cohorts, ORACLE_RETENTION),
    "event_transition_matrix": (q_event_transition_matrix, ORACLE_TRANSITIONS),
    "nation_volume_pairs": (q_nation_volume_pairs, ORACLE_NATION_VOLUME),
    "disjunctive_pred_revenue": (q_disjunctive_pred_revenue, ORACLE_DISJUNCTIVE),
    "vocab_top_terms": (q_vocab_top_terms, ORACLE_VOCAB),
    "latest_order_maxby": (q_latest_order_maxby, ORACLE_LATEST_MAXBY),
    "quality_funnel_report": (q_quality_funnel_report, _oracle_quality_funnel()),
    "window_distribution_ranks": (
        q_window_distribution_ranks,
        ORACLE_DISTRIBUTION_RANKS,
    ),
    "sql_interface_report": (q_sql_interface_report, _SQL_INTERFACE_TEXT),
    "nation_day_over_day": (q_nation_day_over_day, ORACLE_NATION_DOD),
    "multiset_ops_orderdays": (q_multiset_ops_orderdays, ORACLE_MULTISET_OPS),
    "multimodal_pixel_stats": (q_multimodal_pixel_stats, ORACLE_PIXEL_STATS),
    "incremental_rollup_merge": (
        q_incremental_rollup_merge,
        ORACLE_INCREMENTAL_ROLLUP,
    ),
    "user_day_bitmap": (q_user_day_bitmap, _oracle_user_day_bitmap()),
    "user_active_streaks": (q_user_active_streaks, ORACLE_ACTIVE_STREAKS),
    "recursive_order_chain": (q_recursive_order_chain, ORACLE_RECURSIVE_CHAIN),
}
