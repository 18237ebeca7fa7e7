"""Round-7 query wave — classical statistics, time-series repair, and
pipeline-verify stages the registry did not cover yet.

Each entry: name -> (builder(spark, sf_dir) -> DataFrame, DuckDB oracle
SQL).  Same determinism contract as every other wave: md5-based hashing
only, integer-cents / DECIMAL accumulators for money, transcendentals
rounded (9 per-term into DECIMAL partials, 6 on emission), IEEE
add/mul/div/sqrt treated as deterministic cross-engine, identical
column aliases between the Spark plan and the oracle.

Scale notes are inline per query; the common theme is that every
window in this wave runs over a DOMAIN-bounded frame (calendar days,
the 50-value quantity domain, a ≤9-cell contingency table), never over
fact rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.plans.analytics_queries import cents
from etl_portofolio_spark.plans.oracle_types import oracle_bigint

ROUND7_QUERIES: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {}


# ---------------------------------------------------------------------------
# chi2_returns_status — chi-square test of independence
# ---------------------------------------------------------------------------


def q_chi2_returns_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: is ``l_returnflag`` independent of
    ``l_linestatus``?  Emits the full contingency diagnostics — observed
    count, expected count under independence, and the cell's chi-square
    contribution — one row per occupied cell.

    Scale design: one map-side-combinable groupBy over the fact table
    produces the <=9-cell contingency frame; margins are window sums
    OVER that frame (domain-bounded — the single-partition windows see
    at most |returnflag|×|linestatus| rows, never fact rows, and the
    fact table is scanned exactly ONCE).  Expected/contribution
    arithmetic is integer products pushed through IEEE double division
    — deterministic cross-engine — rounded to 6 on emission
    (magnitudes ~1e6, far inside the safe round() range).
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("obs")
    )
    m = cells.select(
        "l_returnflag",
        "l_linestatus",
        "obs",
        F.sum("obs").over(Window.partitionBy("l_returnflag")).alias("rt"),
        F.sum("obs").over(Window.partitionBy("l_linestatus")).alias("ct"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    exp = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    return (
        m.select(
            "l_returnflag",
            "l_linestatus",
            "obs",
            F.round(exp, 6).alias("expected_r6"),
            F.round(
                (F.col("obs").cast("double") - exp)
                * (F.col("obs").cast("double") - exp)
                / exp,
                6,
            ).alias("contrib_r6"),
        )
    )


_CHI2_SQL = """
WITH cells AS (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS obs
  FROM lineitem GROUP BY 1, 2
), m AS (
  SELECT c.*,
         SUM(obs) OVER (PARTITION BY l_returnflag) AS rt,
         SUM(obs) OVER (PARTITION BY l_linestatus) AS ct,
         SUM(obs) OVER () AS n
  FROM cells c
)
SELECT l_returnflag, l_linestatus, obs,
       round(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS expected_r6,
       round((CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS contrib_r6
FROM m
"""

ROUND7_QUERIES["chi2_returns_status"] = (q_chi2_returns_status, _CHI2_SQL)


# ---------------------------------------------------------------------------
# mannwhitney_quantity_returns — rank-sum test on an integer domain
# ---------------------------------------------------------------------------


def q_mannwhitney_quantity_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test: do returned ('R') and non-returned ('N')
    line items draw ``l_quantity`` from the same distribution?

    Scale design: the quantity DOMAIN is the 50 integers 1..50, so the
    rank computation never sorts fact rows — one combinable groupBy
    collapses the fact table to <=50 (value, n_r, n_n) rows, and the
    tie-aware average ranks come from a cumulative window over that
    domain-bounded frame.  Doubled rank sums keep everything integer
    (average ranks are half-integers); the z statistic is the only
    double, built from integer inputs via IEEE mul/div/sqrt
    (deterministic) and rounded to 6.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("R", "N")
    )
    per_v = li.groupBy(F.col("l_quantity").cast("long").alias("v")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("n_r"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0)).alias("n_n"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "v",
        "n_r",
        "n_n",
        (F.col("n_r") + F.col("n_n")).alias("cnt"),
        F.coalesce(F.sum(F.col("n_r") + F.col("n_n")).over(w), F.lit(0)).alias(
            "cum_before"
        ),
    )
    # doubled average rank of value v: 2*cum_before + cnt + 1 (integer)
    agg = ranked.agg(
        F.sum("n_r").alias("n1"),
        F.sum("n_n").alias("n2"),
        F.sum(
            F.col("n_r") * (F.lit(2) * F.col("cum_before") + F.col("cnt") + 1)
        ).alias("r1_x2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_cubes"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    n = n1 + n2
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    mu_x2 = n1 * n2  # 2 * (n1*n2/2)
    sigma = F.sqrt(
        n1 * n2 / F.lit(12.0)
        * ((n + 1) - F.col("tie_cubes").cast("double") / (n * (n - 1)))
    )
    return agg.select(
        "n1",
        "n2",
        u1_x2.alias("u1_x2"),
        F.col("tie_cubes").alias("tie_cubes"),
        F.round((u1_x2.cast("double") - mu_x2) / (F.lit(2.0) * sigma), 6).alias(
            "z_r6"
        ),
    )


_MWU_SQL = oracle_bigint("""
WITH per_v AS (
  SELECT CAST(l_quantity AS BIGINT) AS v,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_r,
         SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS n_n
  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1
), ranked AS (
  SELECT v, n_r, n_n, n_r + n_n AS cnt,
         COALESCE(SUM(n_r + n_n) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM per_v
), agg AS (
  SELECT SUM(n_r) AS n1, SUM(n_n) AS n2,
         SUM(n_r * (2 * cum_before + cnt + 1)) AS r1_x2,
         SUM(cnt * cnt * cnt - cnt) AS tie_cubes
  FROM ranked
)
SELECT n1, n2,
       r1_x2 - n1 * (n1 + 1) AS u1_x2,
       tie_cubes,
       round((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1)
                   - CAST(tie_cubes AS DOUBLE)
                     / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1))))), 6)
         AS z_r6
FROM agg
""", "n1", "n2", "u1_x2", "tie_cubes")

ROUND7_QUERIES["mannwhitney_quantity_returns"] = (
    q_mannwhitney_quantity_returns,
    _MWU_SQL,
)


# ---------------------------------------------------------------------------
# cusum_changepoint — integer-exact CUSUM drift over daily revenue
# ---------------------------------------------------------------------------


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over daily revenue: the cumulative
    deviation from the global mean, scaled by the day count so every
    value is an exact integer — ``S'_t = n·cumsum(x)_t − t·total``
    (equals ``n·Σ(x_i − mean)``, no division anywhere).  The row with
    the largest |S'_t| is the level-shift candidate.

    Scale design: the fact table collapses to one calendar-bounded
    daily aggregate (map-side combinable); the cumulative window and
    the global total run over that ~2.4k-row frame only.  All math is
    BIGINT (n·cum peaks ~5e15 at sf0.1 — far inside int64).
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.sum(cents("l_extendedprice")).alias("rev_c")
    )
    wall = Window.partitionBy()
    word = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    scanned = daily.select(
        "day",
        F.row_number().over(Window.partitionBy().orderBy("day")).alias("t"),
        F.sum("rev_c").over(word).alias("cum"),
        F.count(F.lit(1)).over(wall).alias("n_days"),
        F.sum("rev_c").over(wall).alias("total"),
    )
    return scanned.select(
        "day",
        "t",
        (
            F.col("n_days") * F.col("cum") - F.col("t") * F.col("total")
        ).alias("cusum_scaled"),
    )


_CUSUM_SQL = oracle_bigint("""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev_c
  FROM lineitem GROUP BY 1
), scanned AS (
  SELECT day,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS INT) AS t,
         SUM(rev_c) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         COUNT(*) OVER () AS n_days,
         SUM(rev_c) OVER () AS total
  FROM daily
)
SELECT day, t, n_days * cum - t * total AS cusum_scaled
FROM scanned
""", "cusum_scaled")

ROUND7_QUERIES["cusum_changepoint"] = (q_cusum_changepoint, _CUSUM_SQL)


# ---------------------------------------------------------------------------
# km_time_to_return — Kaplan-Meier survival: order placement → first return
# ---------------------------------------------------------------------------


def q_km_time_to_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve for time from order placement to the FIRST
    returned shipment on that order — the classic right-censored
    time-to-event setup: an order that never ships a returned line is
    censored at the corpus' last ship date (observation end), not
    treated as "never returns".

    For each duration with at least one observed return: the risk set
    (orders still return-free and still under observation at that
    age), the return count, and the log survival ``Σ ln(1 − d/n)`` —
    emitted in log space so no cross-engine ``exp`` is needed; per-term
    lns round to 9 into a DECIMAL(20,9) running sum
    (order-independent), the cumulative rounds to 6 on emission.

    Scale design: one combinable groupBy collapses lineitem to a
    first-return date per order; everything after runs on the
    duration-keyed frame, bounded by the CALENDAR (ship window +
    censor horizon), not by orders or line items.

    Note: the synthetic generator does not tie ship dates to order
    dates, so signed durations (including negative ages) appear; the
    KM recursion is over the ordered duration domain and is
    indifferent to the origin — the curve is still the exact product-
    limit estimate over that domain.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("odate")
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
            F.when(F.col("ret_date").isNotNull(), 1).otherwise(0).alias("churned"),
        )
    )
    by_dur = per_order.groupBy("dur").agg(
        F.sum("churned").alias("d"), F.count(F.lit(1)).alias("c")
    )
    wall = Window.partitionBy()
    wbefore = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = by_dur.select(
        "dur",
        "d",
        (
            F.sum("c").over(wall) - F.coalesce(F.sum("c").over(wbefore), F.lit(0))
        ).alias("n_risk"),
    ).where(F.col("d") > 0)
    term = F.round(
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk").cast("double")),
        9,
    ).cast("decimal(20,9)")
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.where(F.col("d") < F.col("n_risk"))
        .select("dur", "d", "n_risk", term.alias("term"))
        .select(
            "dur",
            "d",
            "n_risk",
            F.round(F.sum("term").over(wcum).cast("double"), 6).alias(
                "log_surv_r6"
            ),
        )
    )


_KM_SQL = oracle_bigint("""
WITH first_ret AS (
  SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS ret_date
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
), g AS (
  SELECT MAX(CAST(l_shipdate AS DATE)) AS gmax_date FROM lineitem
), per_order AS (
  SELECT CASE WHEN r.ret_date IS NOT NULL
              THEN datediff('day', CAST(o.o_orderdate AS DATE), r.ret_date)
              ELSE datediff('day', CAST(o.o_orderdate AS DATE), g.gmax_date)
         END AS dur,
         CASE WHEN r.ret_date IS NOT NULL THEN 1 ELSE 0 END AS churned
  FROM orders o LEFT JOIN first_ret r ON o.o_orderkey = r.l_orderkey, g
), by_dur AS (
  SELECT dur, SUM(churned) AS d, COUNT(*) AS c FROM per_order GROUP BY 1
), risk AS (
  SELECT dur, d,
         SUM(c) OVER () - COALESCE(SUM(c) OVER (ORDER BY dur
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM by_dur
), terms AS (
  SELECT dur, d, n_risk,
         CAST(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)), 9)
              AS DECIMAL(20,9)) AS term
  FROM risk WHERE d > 0 AND d < n_risk
)
SELECT dur, d, n_risk,
       round(CAST(SUM(term) OVER (ORDER BY dur
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
         AS log_surv_r6
FROM terms
""", "d", "n_risk")

ROUND7_QUERIES["km_time_to_return"] = (q_km_time_to_return, _KM_SQL)


# ---------------------------------------------------------------------------
# data_freshness_report — per-source SLA lateness audit
# ---------------------------------------------------------------------------


def q_data_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type freshness audit: seconds-precision last-arrival,
    staleness versus the global high-water mark, trailing-7-day volume,
    and a 24h SLA flag — the table a pipeline health dashboard reads.

    Scale design: one combinable groupBy per source computes last
    arrival and windowed volume; the global high-water mark is a
    broadcast single row.  Timestamps emit as floored unix seconds
    (integers) — cross-engine-safe, no timestamp formatting in play.
    """
    ev = load_table(spark, sf_dir, "events")
    gmax = ev.agg(F.max("ts").alias("gmax_ts"))
    per_type = (
        ev.crossJoin(F.broadcast(gmax))
        .groupBy("event_type")
        .agg(
            F.max(F.unix_timestamp("ts")).alias("last_unix"),
            F.max(F.unix_timestamp("gmax_ts")).alias("gmax_unix"),
            F.sum(
                F.when(
                    F.col("ts") >= F.col("gmax_ts") - F.expr("INTERVAL 7 DAYS"), 1
                ).otherwise(0)
            ).alias("events_7d"),
        )
    )
    lag_min = F.floor((F.col("gmax_unix") - F.col("last_unix")) / F.lit(60)).cast(
        "long"
    )
    return per_type.select(
        "event_type",
        "last_unix",
        lag_min.alias("lag_minutes"),
        "events_7d",
        F.when(lag_min > 1440, 1).otherwise(0).alias("stale_24h"),
    )


_FRESHNESS_SQL = oracle_bigint("""
WITH g AS (
  SELECT MAX(ts) AS gmax_ts FROM events
), per_type AS (
  SELECT event_type,
         MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_unix,
         MAX(CAST(floor(epoch(gmax_ts)) AS BIGINT)) AS gmax_unix,
         SUM(CASE WHEN ts >= gmax_ts - INTERVAL 7 DAY THEN 1 ELSE 0 END)
           AS events_7d
  FROM events, g GROUP BY 1
)
SELECT event_type, last_unix,
       CAST(floor((gmax_unix - last_unix) / 60.0) AS BIGINT) AS lag_minutes,
       events_7d,
       CASE WHEN floor((gmax_unix - last_unix) / 60.0) > 1440
            THEN 1 ELSE 0 END AS stale_24h
FROM per_type
""", "events_7d")

ROUND7_QUERIES["data_freshness_report"] = (
    q_data_freshness_report,
    _FRESHNESS_SQL,
)


# ---------------------------------------------------------------------------
# edit_distance_verify — exact Levenshtein verify over blocked candidates
# ---------------------------------------------------------------------------

_EDV_PREFIX = 24
_EDV_CAP = 256


def q_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification stage for near-dup candidates: block
    documents on an md5 hash of their first 24 characters, generate
    within-block pairs, and score each pair with exact Levenshtein
    distance over the first 256 characters — the fine-grained verify
    step a dedup pipeline runs AFTER cheap blocking, using the JVM
    built-in (`F.levenshtein`), never a Python crossing.

    Restricted to ASCII-clean prefixes so both engines count the same
    units (Levenshtein is per-character; non-ASCII docs take the
    codec-audited unicode path instead — `unicode_normalization_audit`).

    Scale design: candidates come from a bucket equi-join (same shape
    as the LSH band join — never all-pairs); the quadratic Levenshtein
    cost is bounded by the 256-char cap per candidate, and candidates
    per block are bounded by the block's cardinality, audited the same
    way as `lsh_bucket_skew_audit`.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.substring("text", 1, _EDV_CAP).alias("head"),
            F.md5(F.substring("text", 1, _EDV_PREFIX)).alias("blk"),
        )
        .where(F.col("head").rlike(r"^[\x20-\x7e]*$"))
    )
    a = docs.select(
        F.col("doc_id").alias("a_id"), F.col("head").alias("a_head"), "blk"
    )
    b = docs.select(
        F.col("doc_id").alias("b_id"), F.col("head").alias("b_head"), "blk"
    )
    lev = F.levenshtein("a_head", "b_head")
    longest = F.greatest(F.length("a_head"), F.length("b_head"), F.lit(1))
    return (
        a.join(b, "blk")
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            lev.alias("lev"),
            F.floor(
                F.lit(1000) * (longest - lev) / longest
            ).cast("long").alias("sim_permille"),
        )
    )


_EDV_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         substr(text, 1, {_EDV_CAP}) AS head,
         md5(substr(text, 1, {_EDV_PREFIX})) AS blk
  FROM documents
  WHERE regexp_matches(substr(text, 1, {_EDV_CAP}), '^[\\x20-\\x7e]*$')
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       levenshtein(a.head, b.head) AS lev,
       CAST(floor(1000.0 * (greatest(length(a.head), length(b.head), 1)
                            - levenshtein(a.head, b.head))
                  / greatest(length(a.head), length(b.head), 1)) AS BIGINT)
         AS sim_permille
FROM docs a JOIN docs b ON a.blk = b.blk AND a.doc_id < b.doc_id
"""

ROUND7_QUERIES["edit_distance_verify"] = (q_edit_distance_verify, _EDV_SQL)


# ---------------------------------------------------------------------------
# linear_interpolate_gaps — exact linear fill of missing days
# ---------------------------------------------------------------------------

_INTERP_BRAND = "Brand#23"


def q_linear_interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series repair: daily revenue for one sparse brand, with
    missing calendar days filled by EXACT linear interpolation between
    the surrounding observed days.  The interpolated value emits as
    INTEGER ten-thousandths of a cent — ``(prev·(gap−off) + next·off)
    · 1e4 div gap`` on cents numerators — floor division of exact
    integers, bit-identical in both engines at any magnitude (the r6
    emission was the double image of the same rational: deterministic
    for a single division, but past the 4.5e6 audit bound the
    check_oracle float audit now enforces).

    Scale design: the fact table collapses to a calendar-bounded daily
    aggregate; the spine explode and the prev/next IGNORE NULLS windows
    run over that frame (~2.4k rows), never fact rows.  At 100× data
    the spine is unchanged — cost tracks the calendar.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(F.col("p_brand") == _INTERP_BRAND)
        .groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(F.sum(cents("l_extendedprice")).alias("rev_c"))
    )
    bounds = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    joined = spine.join(daily, "day", "left")
    word = Window.orderBy("day")
    prev_day = F.last(
        F.when(F.col("rev_c").isNotNull(), F.col("day")), ignorenulls=True
    ).over(word.rowsBetween(Window.unboundedPreceding, 0))
    prev_val = F.last("rev_c", ignorenulls=True).over(
        word.rowsBetween(Window.unboundedPreceding, 0)
    )
    next_day = F.first(
        F.when(F.col("rev_c").isNotNull(), F.col("day")), ignorenulls=True
    ).over(word.rowsBetween(0, Window.unboundedFollowing))
    next_val = F.first("rev_c", ignorenulls=True).over(
        word.rowsBetween(0, Window.unboundedFollowing)
    )
    ctx = joined.select(
        "day",
        "rev_c",
        F.datediff(next_day, prev_day).alias("gap"),
        F.datediff(F.col("day"), prev_day).alias("off"),
        prev_val.alias("prev_val"),
        next_val.alias("next_val"),
    )
    # nonneg operands: Spark `div` (truncate) == DuckDB `//` (floor)
    interp = F.when(
        F.col("rev_c").isNotNull(), F.col("rev_c") * F.lit(10_000)
    ).otherwise(
        F.expr("((prev_val * (gap - off) + next_val * off) * 10000) div gap")
    )
    return ctx.select(
        "day",
        F.when(F.col("rev_c").isNotNull(), 1).otherwise(0).alias("observed"),
        interp.cast("long").alias("rev_c_interp_e4"),
    )


_INTERP_SQL = f"""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{_INTERP_BRAND}'
  GROUP BY 1
), bounds AS (
  SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily
), spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
), joined AS (
  SELECT s.day, d.rev_c FROM spine s LEFT JOIN daily d ON s.day = d.day
), ctx AS (
  SELECT day, rev_c,
         LAST_VALUE(CASE WHEN rev_c IS NOT NULL THEN day END IGNORE NULLS)
           OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prev_day,
         LAST_VALUE(rev_c IGNORE NULLS)
           OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prev_val,
         FIRST_VALUE(CASE WHEN rev_c IS NOT NULL THEN day END IGNORE NULLS)
           OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_day,
         FIRST_VALUE(rev_c IGNORE NULLS)
           OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_val
  FROM joined
)
SELECT day,
       CASE WHEN rev_c IS NOT NULL THEN 1 ELSE 0 END AS observed,
       CAST(CASE WHEN rev_c IS NOT NULL THEN rev_c * 10000
            ELSE ((prev_val * (datediff('day', prev_day, next_day)
                               - datediff('day', prev_day, day))
                   + next_val * datediff('day', prev_day, day)) * 10000)
                 // datediff('day', prev_day, next_day)
       END AS BIGINT) AS rev_c_interp_e4
FROM ctx
"""

ROUND7_QUERIES["linear_interpolate_gaps"] = (
    q_linear_interpolate_gaps,
    _INTERP_SQL,
)


# ---------------------------------------------------------------------------
# dsir_importance_weights — hashed n-gram importance resampling (DSIR)
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256


def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., 2023)
    rendered Spark-first: score every document by how target-like its
    hashed unigram features are — ``Σ_tokens ln(p_target(b)/p_corpus(b))``
    over 256 md5-hashed feature buckets with add-one smoothing, target
    = the English slice, proposal = the whole corpus.  High scores mark
    documents to up-sample when composing a target-matched pretraining
    mix.

    Scale design: token explode is map-only; bucket statistics are one
    combinable groupBy to a 256-row frame (totals via windows over that
    frame, never a second corpus pass) broadcast back onto the token
    stream; the per-doc reduce is the second and last shuffle.  Log
    ratios round to 9 into DECIMAL(20,9) per BUCKET (one rounding per
    bucket, not per token), so each doc's sum is exact decimal
    arithmetic — order- and partition-independent.
    """
    from etl_portofolio_spark.functions.hashing import h32

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("tok"),
    ).where(F.col("tok") != "")
    toks = toks.withColumn("b", h32("tok") % _DSIR_BUCKETS)
    stats = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_cnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("t_cnt"),
    )
    wall = Window.partitionBy()
    stats = stats.select(
        "b",
        "c_cnt",
        "t_cnt",
        F.sum("c_cnt").over(wall).alias("c_tot"),
        F.sum("t_cnt").over(wall).alias("t_tot"),
    )
    lr = F.round(
        F.log(
            (F.col("t_cnt") + 1).cast("double")
            / (F.col("t_tot") + _DSIR_BUCKETS).cast("double")
        )
        - F.log(
            (F.col("c_cnt") + 1).cast("double")
            / (F.col("c_tot") + _DSIR_BUCKETS).cast("double")
        ),
        9,
    ).cast("decimal(20,9)")
    scored = toks.join(F.broadcast(stats.select("b", lr.alias("lr"))), "b")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum("lr").cast("double"), 6).alias("logweight_r6"),
    )


_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {_DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
), stats AS (
  SELECT b, COUNT(*) AS c_cnt,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_cnt
  FROM toks GROUP BY 1
), m AS (
  SELECT b, c_cnt, t_cnt,
         SUM(c_cnt) OVER () AS c_tot, SUM(t_cnt) OVER () AS t_tot
  FROM stats
), lrs AS (
  SELECT b,
         CAST(round(ln(CAST(t_cnt + 1 AS DOUBLE) / CAST(t_tot + {_DSIR_BUCKETS} AS DOUBLE))
                    - ln(CAST(c_cnt + 1 AS DOUBLE) / CAST(c_tot + {_DSIR_BUCKETS} AS DOUBLE)), 9)
              AS DECIMAL(20,9)) AS lr
  FROM m
)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       round(CAST(SUM(l.lr) AS DOUBLE), 6) AS logweight_r6
FROM toks t JOIN lrs l ON t.b = l.b
GROUP BY 1
"""

ROUND7_QUERIES["dsir_importance_weights"] = (
    q_dsir_importance_weights,
    _DSIR_SQL,
)


# ---------------------------------------------------------------------------
# adamic_adar_linkpred — common-neighbor link prediction on the brand graph
# ---------------------------------------------------------------------------

_AA_MIN_CO = 5


def q_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the brand co-purchase graph:
    for every brand pair, the sum over common neighbors z of
    ``1/ln(deg(z))`` — neighbors that are themselves promiscuous count
    less.  Pairs flagged by whether they are ALREADY an edge: the
    non-edge rows ranked by score are the link predictions.

    Scale design: the graph is DOMAIN-bounded (|brands| nodes).  Edges
    come from per-order distinct brand pairs (fan-out bounded by basket
    size, never corpus-quadratic — same shape as
    `brand_copurchase_pairs`); the wedge join and scores run on the
    edge/degree frames only.  Per-neighbor weights round to 9 into
    DECIMAL before the wedge sum (order-independent); degree-1
    neighbors are excluded (ln(1)=0 has no defined AA weight).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    x = ob.select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("ba"))
    y = ob.select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("bb"))
    pairs = (
        x.join(y, "ok")
        .where(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("co"))
        .where(F.col("co") >= _AA_MIN_CO)
    )
    from etl_portofolio_spark.caching import scoped_persist

    edges = scoped_persist(pairs.select("ba", "bb"))
    und = edges.select(F.col("ba").alias("u"), F.col("bb").alias("v")).unionAll(
        edges.select(F.col("bb").alias("u"), F.col("ba").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    w = F.round(
        F.lit(1.0) / F.log(F.col("deg").cast("double")), 9
    ).cast("decimal(20,9)")
    wdeg = deg.where(F.col("deg") >= 2).select(F.col("u").alias("z"), w.alias("w"))
    # wedge: a—z and z—b with a<b; common neighbor z carries weight w(z)
    za = und.select(F.col("v").alias("z"), F.col("u").alias("a"))
    zb = und.select(F.col("v").alias("z"), F.col("u").alias("b"))
    wedges = (
        za.join(zb, "z")
        .where(F.col("a") < F.col("b"))
        .join(F.broadcast(wdeg), "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum("w").cast("double"), 6).alias("aa_score_r6"),
        )
    )
    # edges is consumed three times (degrees, wedges, flag join) — the
    # scoped persist above keeps it one computation; released with the
    # session scope like every other multi-branch persist.
    return wedges.join(
        edges.select(
            F.col("ba").alias("a"), F.col("bb").alias("b"), F.lit(1).alias("is_edge")
        ),
        ["a", "b"],
        "left",
    ).select(
        "a",
        "b",
        "n_common",
        "aa_score_r6",
        F.coalesce("is_edge", F.lit(0)).alias("is_edge"),
    )


_AA_SQL = f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pairs AS (
  SELECT x.p_brand AS ba, y.p_brand AS bb, COUNT(*) AS co
  FROM ob x JOIN ob y ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
  GROUP BY 1, 2 HAVING COUNT(*) >= {_AA_MIN_CO}
), und AS (
  SELECT ba AS u, bb AS v FROM pairs
  UNION ALL
  SELECT bb AS u, ba AS v FROM pairs
), deg AS (
  SELECT u, COUNT(*) AS deg FROM und GROUP BY 1
), wdeg AS (
  SELECT u AS z, CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 9) AS DECIMAL(20,9)) AS w
  FROM deg WHERE deg >= 2
), wedges AS (
  SELECT za.a, zb.b, COUNT(*) AS n_common,
         round(CAST(SUM(wd.w) AS DOUBLE), 6) AS aa_score_r6
  FROM (SELECT v AS z, u AS a FROM und) za
  JOIN (SELECT v AS z, u AS b FROM und) zb ON za.z = zb.z AND za.a < zb.b
  JOIN wdeg wd ON wd.z = za.z
  GROUP BY 1, 2
)
SELECT w.a, w.b, w.n_common, w.aa_score_r6,
       CASE WHEN p.ba IS NOT NULL THEN 1 ELSE 0 END AS is_edge
FROM wedges w LEFT JOIN pairs p ON p.ba = w.a AND p.bb = w.b
"""

ROUND7_QUERIES["adamic_adar_linkpred"] = (q_adamic_adar_linkpred, _AA_SQL)


# ---------------------------------------------------------------------------
# sprt_daily_decision — Wald sequential probability ratio test
# ---------------------------------------------------------------------------

#: SPRT constants computed ONCE in Python and embedded as identical
#: literals in both engines — no cross-engine ln() in the hot path.
_SPRT_LA = 0.20067069546215124  # ln(0.55/0.45)
_SPRT_LB = -0.20067069546215124  # ln(0.45/0.55)
_SPRT_BOUND = 2.9444389791664403  # ln(19) — alpha = beta = 0.05


def q_sprt_daily_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT run day-by-day over the purchase-vs-click stream:
    H0 "purchase share = 0.45" vs H1 "= 0.55", log-likelihood ratio
    accumulated per day, decision flag the first time the path crosses
    ±ln(19) (the 5%/5% error bounds).  The early-stopping monitor an
    experimentation platform runs after each daily batch.

    Scale design: the event stream collapses to one calendar-bounded
    daily aggregate; the cumulative LLR window runs over days only.
    The ln constants are Python-computed literals (identical doubles in
    both engines); each day's term is integer-weighted IEEE arithmetic
    rounded to 9 into DECIMAL — the running sum is exact.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("x"),
        F.count(F.lit(1)).alias("n"),
    )
    term = F.round(
        F.col("x").cast("double") * F.lit(_SPRT_LA)
        + (F.col("n") - F.col("x")).cast("double") * F.lit(_SPRT_LB),
        9,
    ).cast("decimal(20,9)")
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(term).over(wcum).cast("double")
    return daily.select(
        "day",
        "x",
        "n",
        F.round(cum, 6).alias("llr_cum_r6"),
        F.when(cum >= F.lit(_SPRT_BOUND), 1)
        .when(cum <= F.lit(-_SPRT_BOUND), -1)
        .otherwise(0)
        .alias("decision"),
    )


_SPRT_SQL = oracle_bigint(f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
         COUNT(*) AS n
  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1
), cums AS (
  SELECT day, x, n,
         CAST(SUM(CAST(round(CAST(x AS DOUBLE) * {_SPRT_LA!r}
                             + CAST(n - x AS DOUBLE) * ({_SPRT_LB!r}), 9)
                       AS DECIMAL(20,9)))
              OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS cum
  FROM daily
)
SELECT day, x, n, round(cum, 6) AS llr_cum_r6,
       CASE WHEN cum >= {_SPRT_BOUND!r} THEN 1
            WHEN cum <= -{_SPRT_BOUND!r} THEN -1
            ELSE 0 END AS decision
FROM cums
""", "x")

ROUND7_QUERIES["sprt_daily_decision"] = (q_sprt_daily_decision, _SPRT_SQL)


# ---------------------------------------------------------------------------
# udtf_token_runs — Python UDTF (table function) surface, oracle-gated
# ---------------------------------------------------------------------------


def q_udtf_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-token runs per document via the registered Python UDTF
    ``token_runs`` (`functions/udtfs.py`) — the §2.9 table-function
    surface exercised end-to-end from SQL with a LATERAL correlation,
    gated by a declarative gaps-and-islands oracle that must agree
    row-for-row with the imperative expansion.

    This is deliberately the ONE registry query on the Python-UDTF path:
    per-row Python is the slow lane, justified here because the run-
    length pass is genuinely stateful-imperative and the point is API
    parity evidence, not throughput — the islands formulation (see the
    oracle) is what a hot path would use.

    Scale design: the UDTF fans out per document on executors (no
    driver loop); downstream is pass-through.
    """
    from etl_portofolio_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("r7_docs")
    return spark.sql(
        """
        SELECT d.doc_id, r.start_idx, r.token, r.run_len
        FROM r7_docs d, LATERAL token_runs(d.text) r
        """
    )


_UDTF_RUNS_SQL = """
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
), toks AS (
  SELECT doc_id, CAST(u.i AS INT) AS idx, arr[u.i] AS tok
  FROM base, LATERAL unnest(generate_series(1, len(arr))) AS u(i)
), isl AS (
  SELECT doc_id, idx, tok,
         idx - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY idx) AS isl
  FROM toks
)
SELECT doc_id, CAST(MIN(idx) AS INT) AS start_idx, tok AS token,
       CAST(COUNT(*) AS INT) AS run_len
FROM isl GROUP BY doc_id, tok, isl HAVING COUNT(*) >= 2
"""

ROUND7_QUERIES["udtf_token_runs"] = (q_udtf_token_runs, _UDTF_RUNS_SQL)


# ---------------------------------------------------------------------------
# kruskal_wallis_quantity — k-group rank test on the integer domain
# ---------------------------------------------------------------------------


def q_kruskal_wallis_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test across the three return-flag populations
    (A/N/R) on ``l_quantity`` — the k-group generalization of
    `mannwhitney_quantity_returns`, sharing its scale trick: ranks are
    computed on the 50-value DOMAIN after one combinable groupBy, so no
    fact row is ever sorted.  Doubled rank sums stay exact integers;
    H and its tie-corrected form are IEEE arithmetic over those
    integers (deterministic), rounded to 6.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_v = li.groupBy(F.col("l_quantity").cast("long").alias("v")).agg(
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias("na_v"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0)).alias("nn_v"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("nr_v"),
    )
    # bounded: quantity value-domain marginals (~50 rows)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cnt = F.col("na_v") + F.col("nn_v") + F.col("nr_v")
    ranked = per_v.select(
        "v",
        "na_v",
        "nn_v",
        "nr_v",
        cnt.alias("cnt"),
        F.coalesce(F.sum(cnt).over(w), F.lit(0)).alias("cum_before"),
    )
    ar2 = F.lit(2) * F.col("cum_before") + F.col("cnt") + 1
    agg = ranked.agg(
        F.sum("na_v").alias("n_a"),
        F.sum("nn_v").alias("n_n"),
        F.sum("nr_v").alias("n_r"),
        F.sum(F.col("na_v") * ar2).alias("ra_x2"),
        F.sum(F.col("nn_v") * ar2).alias("rn_x2"),
        F.sum(F.col("nr_v") * ar2).alias("rr_x2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_cubes"),
    )
    nd = lambda c: F.col(c).cast("double")  # noqa: E731
    n = nd("n_a") + nd("n_n") + nd("n_r")
    # Σ R_g²/n_g with doubled sums: (R_x2)²/(4·n_g)
    s = (
        nd("ra_x2") * nd("ra_x2") / (F.lit(4.0) * nd("n_a"))
        + nd("rn_x2") * nd("rn_x2") / (F.lit(4.0) * nd("n_n"))
        + nd("rr_x2") * nd("rr_x2") / (F.lit(4.0) * nd("n_r"))
    )
    h = F.lit(12.0) / (n * (n + 1)) * s - F.lit(3.0) * (n + 1)
    corr = F.lit(1.0) - nd("tie_cubes") / (n * n * n - n)
    return agg.select(
        "n_a",
        "n_n",
        "n_r",
        "ra_x2",
        "rn_x2",
        "rr_x2",
        "tie_cubes",
        F.round(h, 6).alias("h_r6"),
        F.round(h / corr, 6).alias("h_tiecorrected_r6"),
    )


_KW_SQL = oracle_bigint("""
WITH per_v AS (
  SELECT CAST(l_quantity AS BIGINT) AS v,
         SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS na_v,
         SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS nn_v,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr_v
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT v, na_v, nn_v, nr_v, na_v + nn_v + nr_v AS cnt,
         COALESCE(SUM(na_v + nn_v + nr_v) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM per_v
), agg AS (
  SELECT SUM(na_v) AS n_a, SUM(nn_v) AS n_n, SUM(nr_v) AS n_r,
         SUM(na_v * (2 * cum_before + cnt + 1)) AS ra_x2,
         SUM(nn_v * (2 * cum_before + cnt + 1)) AS rn_x2,
         SUM(nr_v * (2 * cum_before + cnt + 1)) AS rr_x2,
         SUM(cnt * cnt * cnt - cnt) AS tie_cubes
  FROM ranked
)
SELECT n_a, n_n, n_r, ra_x2, rn_x2, rr_x2, tie_cubes,
       round(12.0 / ((CAST(n_a AS DOUBLE) + n_n + n_r) * (CAST(n_a AS DOUBLE) + n_n + n_r + 1))
             * (CAST(ra_x2 AS DOUBLE) * CAST(ra_x2 AS DOUBLE) / (4.0 * n_a)
                + CAST(rn_x2 AS DOUBLE) * CAST(rn_x2 AS DOUBLE) / (4.0 * n_n)
                + CAST(rr_x2 AS DOUBLE) * CAST(rr_x2 AS DOUBLE) / (4.0 * n_r))
             - 3.0 * (CAST(n_a AS DOUBLE) + n_n + n_r + 1), 6) AS h_r6,
       round((12.0 / ((CAST(n_a AS DOUBLE) + n_n + n_r) * (CAST(n_a AS DOUBLE) + n_n + n_r + 1))
              * (CAST(ra_x2 AS DOUBLE) * CAST(ra_x2 AS DOUBLE) / (4.0 * n_a)
                 + CAST(rn_x2 AS DOUBLE) * CAST(rn_x2 AS DOUBLE) / (4.0 * n_n)
                 + CAST(rr_x2 AS DOUBLE) * CAST(rr_x2 AS DOUBLE) / (4.0 * n_r))
              - 3.0 * (CAST(n_a AS DOUBLE) + n_n + n_r + 1))
             / (1.0 - CAST(tie_cubes AS DOUBLE)
                / ((CAST(n_a AS DOUBLE) + n_n + n_r) * (CAST(n_a AS DOUBLE) + n_n + n_r)
                   * (CAST(n_a AS DOUBLE) + n_n + n_r) - (CAST(n_a AS DOUBLE) + n_n + n_r))), 6)
         AS h_tiecorrected_r6
FROM agg
""", "n_a", "n_n", "n_r", "ra_x2", "rn_x2", "rr_x2", "tie_cubes")

ROUND7_QUERIES["kruskal_wallis_quantity"] = (
    q_kruskal_wallis_quantity,
    _KW_SQL,
)


# ---------------------------------------------------------------------------
# holt_trend_forecast — integer-exact Holt smoother vs recursive-CTE oracle
# ---------------------------------------------------------------------------


def q_holt_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear trend (level + trend, α = β = 1/2) over daily
    order revenue — the one-step-ahead forecaster a revenue monitor
    runs after each daily load.  All state is integer cents with
    floor-div halving (`operators/timeseries.holt_linear_cents`), so
    the sequential fold is bit-identical to the oracle's RECURSIVE CTE
    unrolling — an imperative-kernel vs declarative-recursion
    differential, same pattern as `udtf_token_runs`.

    Scale design: the fact table collapses map-side to the
    calendar-bounded daily frame; only that frame (~2.4k rows) enters
    the Arrow-batched sequential kernel.  The genuinely-serial part is
    O(days), unavoidable for a recurrence, and independent of data
    volume.
    """
    from etl_portofolio_spark.operators.timeseries import holt_linear_cents

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("rev_c")
    )
    return holt_linear_cents(daily, "day", "rev_c")


_HOLT_SQL = oracle_bigint("""
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1
), idx AS (
  SELECT day, rev_c, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily
), holt(t, day, level_c, trend_c) AS (
  SELECT t, day, rev_c, CAST(0 AS BIGINT) FROM idx WHERE t = 1
  UNION ALL
  SELECT i.t, i.day,
         CAST(floor((i.rev_c + h.level_c + h.trend_c) / 2.0) AS BIGINT),
         CAST(floor((CAST(floor((i.rev_c + h.level_c + h.trend_c) / 2.0) AS BIGINT)
                     - h.level_c + h.trend_c) / 2.0) AS BIGINT)
  FROM idx i JOIN holt h ON i.t = h.t + 1
)
SELECT day, level_c, trend_c, level_c + trend_c AS forecast_next_c
FROM holt
""", "level_c", "forecast_next_c")

ROUND7_QUERIES["holt_trend_forecast"] = (q_holt_trend_forecast, _HOLT_SQL)


# ---------------------------------------------------------------------------
# zorder_pruned_scan_2d — Morton clustering + conjunctive 2-D skipping
# ---------------------------------------------------------------------------

_ZORDER_FILES = 32


def q_zorder_pruned_scan_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive 2-D range predicate served through Z-order file
    pruning: ``events`` laid out Morton-clustered on (user_id, value)
    (`sinks/writer.py::write_zorder_clustered`), then a box predicate
    on BOTH columns answered via
    `sources/skipping.py::skipping_scan_multi` — the intersection of
    the two zonemap prunes.  A single-column range clustering can
    prune only its own column; the Morton layout makes every file a
    compact box in (user_id, value) space, so both predicates drop
    files.  The builder asserts the read touched under half the files;
    the oracle filters the original table — clustering must be
    invisible in results.

    100 TB: this is Delta OPTIMIZE ZORDER semantics — pruning is
    footer-metadata-only, the data read tracks the box's true
    selectivity in BOTH dimensions, independent of table size.
    """
    from etl_portofolio_spark.fixtures import ensure_fixture
    from etl_portofolio_spark.sinks.writer import write_zorder_clustered
    from etl_portofolio_spark.sources.skipping import skipping_scan_multi

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        write_zorder_clustered(
            ev, tmp, "user_id", "value", n_files=_ZORDER_FILES
        )

    path = ensure_fixture(sf_dir, "events_zorder", _build)
    b = (
        spark.read.parquet(path)
        .agg(
            F.min("user_id").alias("ulo"),
            F.max("user_id").alias("uhi"),
            F.min("value").alias("vlo"),
            F.max("value").alias("vhi"),
        )
        .first()
    )
    uspan = b["uhi"] - b["ulo"]
    u_lo = b["ulo"] + uspan // 4
    u_hi = b["ulo"] + uspan // 4 + uspan // 8
    vspan = b["vhi"] - b["vlo"]
    v_lo = b["vlo"] + vspan * 0.25
    v_hi = b["vlo"] + vspan * 0.25 + vspan * 0.125
    df = skipping_scan_multi(
        spark, path, [("user_id", u_lo, u_hi), ("value", v_lo, v_hi)]
    )
    n_read = len(df.inputFiles())
    if not 0 < n_read < _ZORDER_FILES // 2:
        raise AssertionError(
            f"z-order 2-D pruning regressed: read {n_read} of "
            f"{_ZORDER_FILES} files for a 1/8 x 1/8 box"
        )
    return df.select("event_id", "user_id", "value")


_ZORDER_SQL = """
WITH b AS (
  SELECT MIN(user_id) AS ulo, MAX(user_id) AS uhi,
         MIN(value) AS vlo, MAX(value) AS vhi
  FROM events
)
SELECT event_id, user_id, value
FROM events, b
WHERE user_id >= ulo + (uhi - ulo) // 4
  AND user_id <= ulo + (uhi - ulo) // 4 + (uhi - ulo) // 8
  AND value >= vlo + (vhi - vlo) * 0.25
  AND value <= vlo + (vhi - vlo) * 0.25 + (vhi - vlo) * 0.125
"""

ROUND7_QUERIES["zorder_pruned_scan_2d"] = (
    q_zorder_pruned_scan_2d,
    _ZORDER_SQL,
)


# ---------------------------------------------------------------------------
# tokenizer_vocab_coverage — OOV rate against a fixed-size vocabulary
# ---------------------------------------------------------------------------

_VOCAB_SIZE = 1024


def q_tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit: build the top-1024 corpus vocabulary
    (count-desc, token-asc tiebreak — fully deterministic) and report,
    per source, how many token occurrences fall outside it — the
    coverage check run before freezing a tokenizer's vocab on a new
    corpus slice.

    Scale design: token counts are one combinable groupBy; the vocab
    is a TakeOrderedAndProject (k rows cross the driver boundary, never
    a global sort of the term space); membership is a broadcast join of
    the 1024-row vocab against the token stream; the per-source reduce
    is the only other shuffle.  Rates are integer permille.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(_VOCAB_SIZE)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "tok", "left")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.floor(
            F.lit(1000)
            * F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("oov_permille"),
    )


_VOCAB_COVERAGE_SQL = oracle_bigint(f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), toks_f AS (
  SELECT source, tok FROM toks WHERE tok <> ''
), vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS cnt FROM toks_f GROUP BY 1
    ORDER BY cnt DESC, tok ASC LIMIT {_VOCAB_SIZE}
  )
)
SELECT t.source, COUNT(*) AS n_tokens,
       SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov,
       CAST(floor(1000.0 * SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS oov_permille
FROM toks_f t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY 1
""", "n_oov")

ROUND7_QUERIES["tokenizer_vocab_coverage"] = (
    q_tokenizer_vocab_coverage,
    _VOCAB_COVERAGE_SQL,
)


# ---------------------------------------------------------------------------
# l_diversity_report — sensitive-attribute diversity per QI group
# ---------------------------------------------------------------------------


def q_l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the companion to `k_anonymity_report`:
    k-anonymity bounds re-identification but a uniform sensitive value
    inside a quasi-identifier group still leaks it — this reports, per
    (nationkey, mktsegment) QI group, the group size k, the number of
    DISTINCT sensitive values l (account-balance thousand-bucket), and
    whether the group fails l >= 3 — the rows a release gate must
    generalize or suppress.

    Scale design: one groupBy producing both k and the distinct count
    (a two-level aggregate — bucket-level dedup first, so no Expand
    node from a mixed count/countDistinct); the QI-group frame is
    domain-bounded.
    """
    cust = load_table(spark, sf_dir, "customer")
    bucketed = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000)).cast("long").alias("sens_b"),
    )
    per_bucket = bucketed.groupBy("c_nationkey", "c_mktsegment", "sens_b").agg(
        F.count(F.lit(1)).alias("k_part")
    )
    return per_bucket.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("k_part").alias("k_size"),
        F.count(F.lit(1)).alias("l_distinct"),
    ).select(
        "c_nationkey",
        "c_mktsegment",
        "k_size",
        "l_distinct",
        F.when(F.col("l_distinct") < 3, 1).otherwise(0).alias("fails_l3"),
    )


_LDIV_SQL = oracle_bigint("""
WITH per_bucket AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS sens_b,
         COUNT(*) AS k_part
  FROM customer GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment,
       SUM(k_part) AS k_size,
       COUNT(*) AS l_distinct,
       CASE WHEN COUNT(*) < 3 THEN 1 ELSE 0 END AS fails_l3
FROM per_bucket GROUP BY 1, 2
""", "k_size")

ROUND7_QUERIES["l_diversity_report"] = (q_l_diversity_report, _LDIV_SQL)


# ---------------------------------------------------------------------------
# sql_script_report — Spark 4 SQL scripting (procedural WHILE) surface
# ---------------------------------------------------------------------------

_SCRIPT_START_CENTS = 100


def q_sql_script_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-scripting surface (BEGIN/DECLARE/WHILE): a
    procedural doubling search over price thresholds — double until at
    most a tenth of orders remain above, then report the priority
    breakdown at the LAST threshold that still kept more than a tenth
    (``thr DIV 2``, nonempty by construction).  Imperative control flow
    executed entirely inside the SQL engine, returned as the script's
    final statement.  The oracle expresses the SAME search as a
    recursive CTE: procedural loop vs declarative recursion must land
    on the identical fixpoint (all-integer arithmetic, scale-relative
    target — no magic row counts).

    Scale design: each loop iteration is one combinable count over the
    pushdown-filtered orders scan, and the iteration count is
    logarithmic in the price domain — O(log(domain)) passes at any
    data size.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("r7_orders")
    return spark.sql(
        f"""
        BEGIN
          DECLARE thr BIGINT DEFAULT {_SCRIPT_START_CENTS};
          DECLARE tgt BIGINT;
          SET tgt = (SELECT COUNT(*) DIV 10 FROM r7_orders);
          WHILE (SELECT COUNT(*) FROM r7_orders
                 WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) >= thr)
                > tgt DO
            SET thr = thr * 2;
          END WHILE;
          SELECT o_orderpriority,
                 thr DIV 2 AS threshold_cents,
                 COUNT(*) AS n_above
          FROM r7_orders
          WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) >= thr DIV 2
          GROUP BY o_orderpriority;
        END
        """
    )


_SCRIPT_SQL = f"""
WITH RECURSIVE tgt AS (
  SELECT COUNT(*) // 10 AS t FROM orders
), search(thr) AS (
  SELECT CAST({_SCRIPT_START_CENTS} AS BIGINT)
  UNION ALL
  SELECT thr * 2 FROM search
  WHERE (SELECT COUNT(*) FROM orders
         WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) >= thr)
        > (SELECT t FROM tgt)
), fixpoint AS (
  SELECT MAX(thr) // 2 AS thr FROM search
)
SELECT o_orderpriority,
       f.thr AS threshold_cents,
       COUNT(*) AS n_above
FROM orders, fixpoint f
WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) >= f.thr
GROUP BY o_orderpriority, f.thr
"""

ROUND7_QUERIES["sql_script_report"] = (q_sql_script_report, _SCRIPT_SQL)


# ---------------------------------------------------------------------------
# label_propagation_communities — synchronous LPA on the brand graph
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4
_LPA_MIN_CO = 5


def _lpa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    x = ob.select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("ba"))
    y = ob.select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("bb"))
    return (
        x.join(y, "ok")
        .where(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("co"))
        .where(F.col("co") >= _LPA_MIN_CO)
        .select("ba", "bb")
    )


def q_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation on the
    brand co-purchase graph: every node starts as its own label; each
    round adopts the most frequent neighbor label (count desc, label
    asc tiebreak — the deterministic variant of LPA), four fixed
    rounds.  Complements the connected-components / k-core / PageRank
    family with an actual community algorithm.

    Scale design: per round, one equi-join (labels onto edge
    endpoints) + one groupBy + a PER-NODE window (partitioned by node,
    frame bounded by degree — never global).  Synchronous updates and
    the total tiebreak make every round a pure function of the
    previous labeling — partition-order independent, and exactly
    reproducible by the oracle's unrolled SQL rounds.
    """
    from etl_portofolio_spark.caching import scoped_persist

    edges = scoped_persist(_lpa_edges(spark, sf_dir))
    und = edges.select(F.col("ba").alias("u"), F.col("bb").alias("v")).unionAll(
        edges.select(F.col("bb").alias("u"), F.col("ba").alias("v"))
    )
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    win = Window.partitionBy("u").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(_LPA_ROUNDS):
        nbr = und.join(labels, und.v == labels.node).select(und.u, labels.label)
        best = (
            nbr.groupBy("u", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") == 1)
            .select(F.col("u").alias("node"), F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("community_size"))
    return labels.join(sizes, "label").select(
        "node", F.col("label").alias("community"), "community_size"
    )


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f""", best{r} AS (
  SELECT u, label FROM (
    SELECT e.u, l.label, COUNT(*) AS cnt
    FROM und e JOIN {prev} l ON e.v = l.node GROUP BY 1, 2
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY u ORDER BY cnt DESC, label ASC) = 1
), l{r} AS (
  SELECT n.node, COALESCE(b.label, n.label) AS label
  FROM {prev} n LEFT JOIN best{r} b ON b.u = n.node
)"""
        )
        prev = f"l{r}"
    return f"""
WITH pairs AS (
  SELECT x.p_brand AS ba, y.p_brand AS bb
  FROM (SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey) x
  JOIN (SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey) y
    ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
  GROUP BY 1, 2 HAVING COUNT(*) >= {_LPA_MIN_CO}
), und AS (
  SELECT ba AS u, bb AS v FROM pairs
  UNION ALL
  SELECT bb AS u, ba AS v FROM pairs
), l0 AS (
  SELECT DISTINCT u AS node, u AS label FROM und
){''.join(rounds)}
SELECT l.node, l.label AS community, s.community_size
FROM {prev} l JOIN (
  SELECT label, COUNT(*) AS community_size FROM {prev} GROUP BY 1
) s ON s.label = l.label
"""


ROUND7_QUERIES["label_propagation_communities"] = (
    q_label_propagation_communities,
    _lpa_oracle(),
)


# ---------------------------------------------------------------------------
# ngram_novelty_profile — first-occurrence novelty by corpus order
# ---------------------------------------------------------------------------

_NOVELTY_N = 5


def q_ngram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty curve for dataset ordering: per document, the fraction
    of its distinct 5-gram shingles whose FIRST corpus occurrence (by
    doc_id order) is this document — late documents full of already-
    seen grams are the repetition a curriculum or dedup pass
    down-weights.

    Scale design: gram explosion is map-only over a materialized token
    array (no expression re-evaluation inside the lambda); distinct
    grams per doc and the global first-occurrence reduce are gram-
    keyed shuffles with map-side combine; the join back is gram-keyed
    equi — never all-pairs.  Rates are integer permille.
    """
    docs = load_table(spark, sf_dir, "documents")
    arr = F.filter(F.split("text", " "), lambda t: t != "")
    based = docs.select("doc_id", arr.alias("arr"))
    idxs = F.when(
        F.size("arr") >= _NOVELTY_N,
        F.sequence(F.lit(1), F.size("arr") - (_NOVELTY_N - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        based.select(
            "doc_id",
            F.explode(
                F.transform(
                    idxs, lambda i: F.concat_ws(" ", F.slice("arr", i, _NOVELTY_N))
                )
            ).alias("g"),
        )
        .distinct()
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
            F.floor(
                F.lit(1000)
                * F.sum(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
                )
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("novel_permille"),
        )
    )


_NOVELTY_SQL = oracle_bigint(f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(arr[CAST(u.i AS BIGINT):CAST(u.i + {_NOVELTY_N - 1} AS BIGINT)], ' ') AS g
  FROM base, LATERAL unnest(generate_series(1, len(arr) - {_NOVELTY_N - 1})) AS u(i)
  WHERE len(arr) >= {_NOVELTY_N}
), firsts AS (
  SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY 1
)
SELECT gr.doc_id, COUNT(*) AS n_grams,
       SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS n_novel,
       CAST(floor(1000.0 * SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS novel_permille
FROM grams gr JOIN firsts f ON gr.g = f.g
GROUP BY 1
""", "n_novel")

ROUND7_QUERIES["ngram_novelty_profile"] = (
    q_ngram_novelty_profile,
    _NOVELTY_SQL,
)


# ---------------------------------------------------------------------------
# rolling_7d_distinct_users — exact sliding-window distinct (rolling WAU)
# ---------------------------------------------------------------------------


def q_rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the windowed
    distinct a dashboard calls WAU, computed EXACTLY: each distinct
    (user, day) pair covers the 7 window-ends it can influence (a
    bounded 7× fan-out of the deduplicated pair frame, never of raw
    events), then one distinct-reduce per window end.

    Scale design: raw events collapse to distinct (user, day) map-side
    first; the explode multiplies PAIRS (users × active-days), not
    events; window ends are restricted to days that exist (broadcast
    calendar join).  Both shuffles are key-partitioned; a naive
    `countDistinct OVER (RANGE 7 days)` would instead re-scan the full
    user set per day inside one task.
    """
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ev.select(F.to_date("ts").alias("w")).distinct()
    cov = (
        pairs.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
            ).alias("w"),
        )
        .join(F.broadcast(days), "w")
        .distinct()
    )
    return cov.groupBy("w").agg(F.count(F.lit(1)).alias("users_7d"))


_ROLLING_WAU_SQL = """
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS w FROM events
), cov AS (
  SELECT DISTINCT p.user_id, dy.w
  FROM pairs p JOIN days dy ON dy.w >= p.d AND dy.w <= p.d + 6
)
SELECT w, COUNT(*) AS users_7d FROM cov GROUP BY 1
"""

ROUND7_QUERIES["rolling_7d_distinct_users"] = (
    q_rolling_7d_distinct_users,
    _ROLLING_WAU_SQL,
)


# ---------------------------------------------------------------------------
# time_decay_attribution — dyadic-exact decayed multi-touch credit
# ---------------------------------------------------------------------------

_DECAY_WINDOW_DAYS = 28


def q_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every click/view in the 28
    days before a user's purchase earns credit halving per week of age
    — weight ``2^(3 - age_weeks)`` (8/4/2/1, EXACT integers — the
    dyadic trick again, no float decay).  Credit shares are integer
    permille with the rounding remainder assigned to the MOST RECENT
    touch, so every purchase's credit sums to exactly 1000 — value
    conservation, the property float splits silently lose
    (`multi_touch_attribution`'s contract, decayed).

    Scale design: purchase×touch pairing is a user-keyed equi-join
    with a time-range residual (per-user fan-out, never cross-user);
    the per-purchase totals and remainder election are one groupBy +
    a per-purchase window over that purchase's own touches.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    touches = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("touch_id"),
        F.col("ts").alias("tts"),
    )
    paired = purchases.join(touches, "u").where(
        (F.col("tts") < F.col("pts"))
        & (
            F.col("tts")
            >= F.col("pts") - F.expr(f"INTERVAL {_DECAY_WINDOW_DAYS} DAYS")
        )
    )
    weighted = paired.select(
        "purchase_id",
        "touch_id",
        "tts",
        F.expr(
            "shiftleft(1, 3 - least(CAST(floor("
            "datediff(to_date(pts), to_date(tts)) / 7) AS INT), 3))"
        ).alias("w"),
    )
    tot = Window.partitionBy("purchase_id")
    share_floor = F.floor(
        F.lit(1000) * F.col("w") / F.sum("w").over(tot)
    ).cast("long")
    ranked = weighted.select(
        "purchase_id",
        "touch_id",
        "w",
        share_floor.alias("share_floor"),
        F.row_number()
        .over(tot.orderBy(F.col("tts").desc(), F.col("touch_id").asc()))
        .alias("recency_rank"),
        (F.lit(1000) - F.sum(share_floor).over(tot)).alias("slack"),
    )
    return ranked.select(
        "purchase_id",
        "touch_id",
        "w",
        (
            F.col("share_floor")
            + F.when(F.col("recency_rank") == 1, F.col("slack")).otherwise(0)
        ).alias("share_permille"),
    )


_DECAY_SQL = oracle_bigint(f"""
WITH purchases AS (
  SELECT user_id AS u, event_id AS purchase_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
), touches AS (
  SELECT user_id AS u, event_id AS touch_id, ts AS tts
  FROM events WHERE event_type IN ('click', 'view')
), paired AS (
  SELECT p.purchase_id, t.touch_id, t.tts,
         (1 << (3 - least(CAST(floor(datediff('day', CAST(t.tts AS DATE),
                                              CAST(p.pts AS DATE)) / 7)
                               AS INT), 3))) AS w
  FROM purchases p JOIN touches t ON p.u = t.u
  WHERE t.tts < p.pts AND t.tts >= p.pts - INTERVAL {_DECAY_WINDOW_DAYS} DAY
), floored AS (
  SELECT purchase_id, touch_id, w,
         CAST(floor(1000.0 * w / SUM(w) OVER (PARTITION BY purchase_id))
              AS BIGINT) AS share_floor,
         ROW_NUMBER() OVER (PARTITION BY purchase_id
                            ORDER BY tts DESC, touch_id ASC) AS recency_rank
  FROM paired
), ranked AS (
  SELECT purchase_id, touch_id, w, share_floor, recency_rank,
         1000 - SUM(share_floor) OVER (PARTITION BY purchase_id) AS slack
  FROM floored
)
SELECT purchase_id, touch_id, w,
       share_floor + CASE WHEN recency_rank = 1 THEN slack ELSE 0 END
         AS share_permille
FROM ranked
""", "share_permille")

ROUND7_QUERIES["time_decay_attribution"] = (
    q_time_decay_attribution,
    _DECAY_SQL,
)


# ---------------------------------------------------------------------------
# compaction_invariance — small-file rewrite is answer-invariant
# ---------------------------------------------------------------------------

_COMPACT_SMALL_FILES = 12


def q_compaction_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, oracle-gated: a ds-partitioned copy of
    ``events`` is written deliberately fragmented (12 files per day),
    one day is compacted via `sinks/writer.py::compact_partition`, and
    the per-day rollup over the WHOLE table must still hash-match the
    oracle computed from the source — compaction may only change the
    file layout, never an answer.  The builder also asserts the
    compacted day's file count actually dropped, so a silent no-op
    regression fails the query itself.

    100 TB: the rewrite is scoped to one partition behind the ingest
    watermark (dynamic overwrite, atomic per-partition commit); the
    small-files problem this erases is the classic cost of frequent
    micro-batch appends — compaction keeps scan task counts bounded by
    data size, not by append frequency.
    """
    import glob
    import os

    from etl_portofolio_spark.fixtures import ensure_fixture
    from etl_portofolio_spark.sinks.writer import compact_partition

    def _build(tmp: str) -> None:
        ev = (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                "user_id",
                F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
                F.date_format(F.to_date("ts"), "yyyyMMdd").alias("ds"),
            )
            .repartition(_COMPACT_SMALL_FILES)
        )
        ev.write.partitionBy("ds").mode("overwrite").parquet(tmp)
        target_ds = sorted(
            os.path.basename(p).split("=", 1)[1]
            for p in glob.glob(os.path.join(tmp, "ds=*"))
        )[0]
        before = len(
            glob.glob(os.path.join(tmp, f"ds={target_ds}", "*.parquet"))
        )
        compact_partition(spark, tmp, "ds", target_ds)
        after = len(
            glob.glob(os.path.join(tmp, f"ds={target_ds}", "*.parquet"))
        )
        if not after < before:
            raise AssertionError(
                f"compaction did not reduce files: {before} -> {after}"
            )
        with open(os.path.join(tmp, "_COMPACTED"), "w") as fh:
            fh.write(f"{target_ds}: {before} -> {after}\n")

    path = ensure_fixture(
        sf_dir,
        "events_fragmented",
        _build,
        ready=lambda p: os.path.exists(os.path.join(p, "_COMPACTED")),
    )
    return (
        spark.read.parquet(path)
        .groupBy("ds")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_c").alias("value_cents"),
        )
    )


_COMPACTION_SQL = oracle_bigint("""
SELECT strftime(CAST(ts AS DATE), '%Y%m%d') AS ds,
       COUNT(*) AS n_events,
       SUM(CAST(round(value * 100, 0) AS BIGINT)) AS value_cents
FROM events GROUP BY 1
""", "value_cents")

ROUND7_QUERIES["compaction_invariance"] = (
    q_compaction_invariance,
    _COMPACTION_SQL,
)


# ---------------------------------------------------------------------------
# schema_evolution_read — cross-vintage type widening through the contract
# ---------------------------------------------------------------------------


def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read, oracle-gated: two order vintages on disk
    — the old one with ``o_orderkey`` as INT and no ``channel`` column,
    the new one BIGINT with ``channel='web'`` — read as ONE frame
    through the declared contract
    (`sources/evolving.py::read_with_evolution`).  The cross-vintage
    INT→BIGINT type change defeats ``mergeSchema`` (Spark refuses to
    merge differing numeric types), so this exercises the per-vintage
    grouped fallback: each vintage reads under its own schema, casts
    to the contract, NULL-fills the added column, then unions.  The
    oracle reconstructs the same frame from ``orders`` directly — the
    evolution machinery must be invisible in answers.

    100 TB: vintage grouping is a footer-metadata pass; each vintage
    scan stays pushdown/pruning-capable (plain parquet reads), and no
    rewrite of historical files is ever needed to onboard a widened
    contract.
    """
    import os

    from etl_portofolio_spark.fixtures import ensure_fixture
    from etl_portofolio_spark.sources.evolving import read_with_evolution

    def _build(tmp: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            cents("o_totalprice").alias("total_cents"),
            F.year("o_orderdate").alias("o_year"),
            F.to_date("o_orderdate").alias("odate"),
        )
        cut = F.lit("1995-01-01").cast("date")
        v1 = orders.where(F.col("odate") < cut).select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            "o_custkey",
            "total_cents",
            "o_year",
        )
        v2 = orders.where(F.col("odate") >= cut).select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "o_custkey",
            "total_cents",
            "o_year",
            F.lit("web").alias("channel"),
        )
        v1.write.mode("overwrite").parquet(tmp)
        v2.write.mode("append").parquet(tmp)
        with open(os.path.join(tmp, "_SUCCESS_V2"), "w") as fh:
            fh.write("v2 appended\n")

    path = ensure_fixture(
        sf_dir,
        "orders_vintages",
        _build,
        ready=lambda p: os.path.exists(os.path.join(p, "_SUCCESS_V2")),
    )
    contract = (
        "o_orderkey bigint, o_custkey bigint, total_cents bigint, "
        "o_year int, channel string"
    )
    df = read_with_evolution(spark, path, contract)
    return df.groupBy("channel", "o_year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("total_cents").alias("revenue_cents"),
        F.max("o_orderkey").alias("max_orderkey"),
    )


_EVOLUTION_SQL = oracle_bigint("""
SELECT CASE WHEN o_orderdate < TIMESTAMP '1995-01-01' THEN NULL
            ELSE 'web' END AS channel,
       CAST(year(o_orderdate) AS INT) AS o_year,
       COUNT(*) AS n_orders,
       SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS revenue_cents,
       MAX(o_orderkey) AS max_orderkey
FROM orders GROUP BY 1, 2
""", "revenue_cents")

ROUND7_QUERIES["schema_evolution_read"] = (
    q_schema_evolution_read,
    _EVOLUTION_SQL,
)


# ---------------------------------------------------------------------------
# spearman_quantity_discount — rank correlation on bounded domains
# ---------------------------------------------------------------------------


def q_spearman_quantity_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between ``l_quantity`` and
    ``l_discount`` — monotone-association detection that Pearson (on
    values) misses.  Both variables live on small integer domains
    (quantity 1..50, discount in basis points), so tie-averaged ranks
    are computed per DOMAIN VALUE from one combinable groupBy — no
    fact row is ever sorted — and ρ is Pearson over the rank pairs,
    assembled from exact integer accumulators (doubled ranks) with one
    IEEE division+sqrt at the end, rounded to 6.

    Completes the correlation family next to exact Pearson
    (`stats_corr_exact`), Kendall (`brand_rank_kendall_tau`) and
    mutual information (`quantity_price_mutual_information`).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d_bp"),
    )
    cells = li.groupBy("q", "d_bp").agg(F.count(F.lit(1)).alias("cnt"))
    # tie-averaged doubled rank per domain value, from marginal counts
    # bounded: quantity value-domain marginals (~50 rows)
    wq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    qr = (
        cells.groupBy("q")
        .agg(F.sum("cnt").alias("nq"))
        .select(
            "q",
            "nq",
            (
                F.lit(2) * F.coalesce(F.sum("nq").over(wq), F.lit(0))
                + F.col("nq")
                + 1
            ).alias("qrank2"),
        )
    )
    # bounded: discount-bp value-domain marginals (11 rows)
    wd = Window.orderBy("d_bp").rowsBetween(Window.unboundedPreceding, -1)
    dr = (
        cells.groupBy("d_bp")
        .agg(F.sum("cnt").alias("nd"))
        .select(
            "d_bp",
            (
                F.lit(2) * F.coalesce(F.sum("nd").over(wd), F.lit(0))
                + F.col("nd")
                + 1
            ).alias("drank2"),
        )
    )
    joined = (
        cells.join(F.broadcast(qr.select("q", "qrank2")), "q")
        .join(F.broadcast(dr), "d_bp")
    )
    # Pearson over doubled ranks: scale factors cancel in ρ
    # second-moment accumulators in DECIMAL(38,0): Σ cnt·r²  reaches
    # ~n³ — past int64 at SF >= 1 even though the test scales fit
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = joined.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("qrank2")).alias("sx"),
        F.sum(F.col("cnt") * F.col("drank2")).alias("sy"),
        F.sum(dec(F.col("cnt") * F.col("qrank2")) * F.col("qrank2")).alias("sxx"),
        F.sum(dec(F.col("cnt") * F.col("drank2")) * F.col("drank2")).alias("syy"),
        F.sum(dec(F.col("cnt") * F.col("qrank2")) * F.col("drank2")).alias("sxy"),
    )
    nd = lambda c: F.col(c).cast("double")  # noqa: E731
    num = nd("n") * nd("sxy") - nd("sx") * nd("sy")
    den = F.sqrt(
        (nd("n") * nd("sxx") - nd("sx") * nd("sx"))
        * (nd("n") * nd("syy") - nd("sy") * nd("sy"))
    )
    return agg.select(
        "n", F.round(num / den, 6).alias("spearman_rho_r6")
    )


_SPEARMAN_SQL = oracle_bigint("""
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS d_bp
  FROM lineitem
), cells AS (
  SELECT q, d_bp, COUNT(*) AS cnt FROM li GROUP BY 1, 2
), qm AS (
  SELECT q, SUM(cnt) AS nq FROM cells GROUP BY 1
), qr AS (
  SELECT q, 2 * COALESCE(SUM(nq) OVER (ORDER BY q
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + nq + 1
           AS qrank2
  FROM qm
), dm AS (
  SELECT d_bp, SUM(cnt) AS nd FROM cells GROUP BY 1
), dr AS (
  SELECT d_bp, 2 * COALESCE(SUM(nd) OVER (ORDER BY d_bp
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + nd + 1
           AS drank2
  FROM dm
), agg AS (
  SELECT SUM(cnt) AS n,
         SUM(cnt * qrank2) AS sx, SUM(cnt * drank2) AS sy,
         SUM(cnt * qrank2 * qrank2) AS sxx,
         SUM(cnt * drank2 * drank2) AS syy,
         SUM(cnt * qrank2 * drank2) AS sxy
  FROM cells JOIN qr USING (q) JOIN dr USING (d_bp)
)
SELECT n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
         AS spearman_rho_r6
FROM agg
""", "n")

ROUND7_QUERIES["spearman_quantity_discount"] = (
    q_spearman_quantity_discount,
    _SPEARMAN_SQL,
)


# ---------------------------------------------------------------------------
# isotonic_price_curve — monotone regression via the minimax identity
# ---------------------------------------------------------------------------


def q_isotonic_price_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression of mean line-item
    price against quantity — the calibration-curve fit (PAVA) expressed
    DECLARATIVELY through the minimax identity:
    ``iso(v) = max_{i<=v} min_{j>=v} weightedMean(y, i..j)``,
    which equals the pool-adjacent-violators solution exactly.  No
    sequential pooling loop: interval means come from prefix sums over
    the 50-value quantity DOMAIN, the (i, v, j) enumeration is a
    domain-bounded triple (~22k rows — O(D³) in the domain size D,
    ZERO dependence on fact rows), and the min/max cascade is two
    groupBys.  Interval means are IEEE divisions of exact integer
    sums; the fitted level rounds to 4 on emission.

    The builder-side monotonicity of the output is the algorithm's own
    guarantee and is pinned by the oracle hash (any violation would
    diverge from the SQL minimax).
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_v = li.groupBy(F.col("l_quantity").cast("long").alias("v")).agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(cents("l_extendedprice")).alias("s"),
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    pref = per_v.select(
        "v",
        "w",
        "s",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("s").over(wcum).alias("cs"),
    )
    left = pref.select(
        F.col("v").alias("i"),
        (F.col("cw") - F.col("w")).alias("cw_before"),
        (F.col("cs") - F.col("s")).alias("cs_before"),
    )
    right = pref.select(
        F.col("v").alias("j"), F.col("cw").alias("cw_j"), F.col("cs").alias("cs_j")
    )
    intervals = left.crossJoin(right).where(F.col("i") <= F.col("j")).select(
        "i",
        "j",
        (
            (F.col("cs_j") - F.col("cs_before")).cast("double")
            / (F.col("cw_j") - F.col("cw_before")).cast("double")
        ).alias("mean_ij"),
    )
    doms = pref.select(F.col("v").alias("v"))
    triples = intervals.join(
        F.broadcast(doms),
        (F.col("i") <= F.col("v")) & (F.col("v") <= F.col("j")),
    )
    inner = triples.groupBy("v", "i").agg(F.min("mean_ij").alias("min_right"))
    iso = inner.groupBy("v").agg(F.max("min_right").alias("iso_raw"))
    return (
        per_v.join(iso, "v")
        .select(
            "v",
            "w",
            F.round(
                F.col("s").cast("double") / F.col("w").cast("double"), 4
            ).alias("mean_r4"),
            F.round("iso_raw", 4).alias("iso_r4"),
        )
    )


_ISOTONIC_SQL = """
WITH per_v AS (
  SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS w,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS s
  FROM lineitem GROUP BY 1
), pref AS (
  SELECT v, w, s,
         SUM(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(s) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
  FROM per_v
), intervals AS (
  SELECT a.v AS i, b.v AS j,
         CAST(b.cs - (a.cs - a.s) AS DOUBLE)
         / CAST(b.cw - (a.cw - a.w) AS DOUBLE) AS mean_ij
  FROM pref a JOIN pref b ON a.v <= b.v
), inner_min AS (
  SELECT d.v, t.i, MIN(t.mean_ij) AS min_right
  FROM intervals t JOIN pref d ON t.i <= d.v AND d.v <= t.j
  GROUP BY 1, 2
), iso AS (
  SELECT v, MAX(min_right) AS iso_raw FROM inner_min GROUP BY 1
)
SELECT p.v, p.w,
       round(CAST(p.s AS DOUBLE) / CAST(p.w AS DOUBLE), 4) AS mean_r4,
       round(i.iso_raw, 4) AS iso_r4
FROM per_v p JOIN iso i ON p.v = i.v
"""

ROUND7_QUERIES["isotonic_price_curve"] = (
    q_isotonic_price_curve,
    _ISOTONIC_SQL,
)


# ---------------------------------------------------------------------------
# neyman_allocation — optimal stratified-sample allocation
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 10_000


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation for a stratified sample of ``lineitem`` by
    return flag: the sampling budget splits proportionally to
    ``N_h · σ_h`` (stratum size × price standard deviation) — the
    allocation that minimizes the estimator's variance at fixed cost.
    σ comes from the exact integer one-pass identity
    (``n·Σx² − (Σx)²`` on DECIMAL accumulators — order-independent),
    shares are floored to integers and the remainder goes to the
    largest-remainder strata (largest fractional part, stratum-name
    tiebreak) so allocations sum to EXACTLY the budget.

    Scale design: one combinable groupBy to the |strata| frame; the
    allocation arithmetic runs on that domain-bounded frame with
    windows over it.  The same shape runs per-source or per-language
    for corpus sampling budgets.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = cents("l_extendedprice")
    stats = li.groupBy(F.col("l_returnflag").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(x.cast("decimal(38,0)")).alias("sx"),
        F.sum((x.cast("decimal(38,0)") * x)).alias("sxx"),
    )
    nd = lambda c: F.col(c).cast("double")  # noqa: E731
    sigma = F.sqrt(
        (nd("n_h") * nd("sxx") - nd("sx") * nd("sx")) / (nd("n_h") * nd("n_h"))
    )
    weighted = stats.select(
        "stratum", "n_h", (nd("n_h") * sigma).alias("w")
    )
    wall = Window.partitionBy()
    shared = weighted.select(
        "stratum",
        "n_h",
        (F.lit(float(_NEYMAN_BUDGET)) * F.col("w") / F.sum("w").over(wall)).alias(
            "alloc_raw"
        ),
    )
    flo = F.floor("alloc_raw").cast("long")
    ranked = shared.select(
        "stratum",
        "n_h",
        flo.alias("alloc_floor"),
        (F.col("alloc_raw") - flo).alias("frac"),
        (F.lit(_NEYMAN_BUDGET) - F.sum(flo).over(wall)).alias("slack"),
    )
    rn = F.row_number().over(
        Window.partitionBy().orderBy(F.col("frac").desc(), F.col("stratum").asc())
    )
    return ranked.select(
        "stratum",
        "n_h",
        (
            F.col("alloc_floor")
            + F.when(rn <= F.col("slack"), 1).otherwise(0)
        ).alias("alloc_n"),
    )


_NEYMAN_SQL = f"""
WITH stats AS (
  SELECT l_returnflag AS stratum, COUNT(*) AS n_h,
         SUM(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS HUGEINT)) AS sx,
         SUM(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS HUGEINT)
             * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sxx
  FROM lineitem GROUP BY 1
), weighted AS (
  SELECT stratum, n_h,
         CAST(n_h AS DOUBLE)
         * sqrt((CAST(n_h AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                / (CAST(n_h AS DOUBLE) * CAST(n_h AS DOUBLE))) AS w
  FROM stats
), shared AS (
  SELECT stratum, n_h,
         CAST({_NEYMAN_BUDGET} AS DOUBLE) * w / SUM(w) OVER () AS alloc_raw
  FROM weighted
), ranked AS (
  SELECT stratum, n_h,
         CAST(floor(alloc_raw) AS BIGINT) AS alloc_floor,
         alloc_raw - floor(alloc_raw) AS frac,
         {_NEYMAN_BUDGET} - SUM(CAST(floor(alloc_raw) AS BIGINT)) OVER () AS slack
  FROM shared
)
SELECT stratum, n_h,
       alloc_floor + CASE WHEN ROW_NUMBER() OVER (ORDER BY frac DESC, stratum ASC)
                               <= slack THEN 1 ELSE 0 END AS alloc_n
FROM ranked
"""

ROUND7_QUERIES["neyman_allocation"] = (q_neyman_allocation, _NEYMAN_SQL)


# ---------------------------------------------------------------------------
# fd_repair_election — majority repair of a violated functional dependency
# ---------------------------------------------------------------------------


def q_fd_repair_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remediation for `fd_violation_audit`: for the (deliberately
    violated) dependency ``p_type → p_size``, elect the canonical size
    per type by majority vote (count desc, value asc — total order, no
    arbitrary winner) and report, per violating type, the elected
    value, how many variant values existed, and how many rows a repair
    pass would rewrite — the fix-plan a data-quality pipeline executes,
    not just the audit that finds the breakage.

    Scale design: two-level aggregation exactly like the audit (pair
    counts → per-key election), the election itself a per-key window
    over that key's own variants (bounded by variant fan-out).
    """
    part = load_table(spark, sf_dir, "part")
    pairs = part.groupBy("p_type", "p_size").agg(F.count(F.lit(1)).alias("n"))
    win = Window.partitionBy("p_type").orderBy(
        F.col("n").desc(), F.col("p_size").asc()
    )
    elected = pairs.select(
        "p_type",
        "p_size",
        "n",
        F.row_number().over(win).alias("rk"),
        F.sum("n").over(Window.partitionBy("p_type")).alias("n_rows"),
        F.count(F.lit(1)).over(Window.partitionBy("p_type")).alias("n_variants"),
    )
    return (
        elected.where((F.col("rk") == 1) & (F.col("n_variants") > 1))
        .select(
            "p_type",
            F.col("p_size").alias("elected_size"),
            "n_variants",
            "n_rows",
            (F.col("n_rows") - F.col("n")).alias("rows_to_rewrite"),
        )
    )


_FD_REPAIR_SQL = oracle_bigint("""
WITH pairs AS (
  SELECT p_type, p_size, COUNT(*) AS n FROM part GROUP BY 1, 2
), elected AS (
  SELECT p_type, p_size, n,
         ROW_NUMBER() OVER (PARTITION BY p_type
                            ORDER BY n DESC, p_size ASC) AS rk,
         SUM(n) OVER (PARTITION BY p_type) AS n_rows,
         COUNT(*) OVER (PARTITION BY p_type) AS n_variants
  FROM pairs
)
SELECT p_type, p_size AS elected_size, n_variants, n_rows,
       n_rows - n AS rows_to_rewrite
FROM elected WHERE rk = 1 AND n_variants > 1
""", "n_rows", "rows_to_rewrite")

ROUND7_QUERIES["fd_repair_election"] = (q_fd_repair_election, _FD_REPAIR_SQL)


# ---------------------------------------------------------------------------
# quantile_normalization — map per-source distributions onto the pool
# ---------------------------------------------------------------------------


def q_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the event ``value`` metric across
    sources (event types): each source's empirical distribution maps
    onto the POOLED distribution — the batch-effect correction ML
    preprocessing applies so no source's scale dominates a model.

    For every distinct (source, value-cent) point with cumulative
    source fraction q, the normalized value is the smallest pooled
    value-cent whose pooled cumulative fraction reaches q — a
    FORWARD AS-OF join on cumulative fractions, made exact by integer
    cross-multiplication (``cumP · n_src >= cumS · n_pool`` — no
    float quantiles anywhere).

    Scale design: both distributions are value-cent histograms
    (domain-bounded after one combinable groupBy each); the as-of
    match is a window-merge over the UNION of the two cumulative
    curves per source — sort cost bounded by distinct value-cents,
    never event rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("src"),
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    src_h = ev.groupBy("src", "vc").agg(F.count(F.lit(1)).alias("n"))
    wsrc = Window.partitionBy("src").orderBy("vc").rowsBetween(
        Window.unboundedPreceding, 0
    )
    src_c = src_h.select(
        "src",
        "vc",
        F.sum("n").over(wsrc).alias("cum_s"),
        F.sum("n").over(Window.partitionBy("src")).alias("n_s"),
    )
    pool_h = ev.groupBy("vc").agg(F.count(F.lit(1)).alias("n"))
    wp = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, 0)
    pool_c = pool_h.select(
        F.col("vc").alias("pvc"),
        F.sum("n").over(wp).alias("cum_p"),
        F.sum("n").over(Window.partitionBy()).alias("n_p"),
    )
    # merge both curves per source, ordered by cumulative FRACTION via
    # cross-multiplied integers; pooled points carry their value, source
    # points pick the first pooled value at or after their fraction
    src_pts = src_c.select(
        "src",
        "vc",
        (F.col("cum_s").cast("decimal(38,0)")).alias("num"),
        F.col("n_s").alias("den"),
        F.lit(1).alias("is_src"),
        F.lit(None).cast("long").alias("pool_vc"),
    )
    pool_pts = src_c.select("src").distinct().crossJoin(pool_c).select(
        "src",
        F.lit(None).cast("long").alias("vc"),
        (F.col("cum_p").cast("decimal(38,0)")).alias("num"),
        F.col("n_p").alias("den"),
        F.lit(0).alias("is_src"),
        F.col("pvc").alias("pool_vc"),
    )
    merged = src_pts.unionByName(pool_pts).select(
        "*",
        # scaled fraction key, FLOORED — a bare decimal cast would
        # round HALF_UP while the oracle's // floors (boundary skew)
        F.floor(F.col("num") * F.lit(10 ** 18) / F.col("den"))
        .cast("decimal(38,0)")
        .alias("frac_key"),
    )
    wmerge = (
        Window.partitionBy("src")
        .orderBy(F.col("frac_key").asc(), F.col("is_src").asc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    matched = merged.select(
        "src",
        "vc",
        "is_src",
        F.first(F.col("pool_vc"), ignorenulls=True).over(wmerge).alias("norm_vc"),
    ).where(F.col("is_src") == 1)
    return matched.select("src", "vc", "norm_vc")


_QNORM_SQL = """
WITH ev AS (
  SELECT event_type AS src, CAST(round(value * 100, 0) AS BIGINT) AS vc
  FROM events
), src_c AS (
  SELECT src, vc,
         SUM(n) OVER (PARTITION BY src ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
         SUM(n) OVER (PARTITION BY src) AS n_s
  FROM (SELECT src, vc, COUNT(*) AS n FROM ev GROUP BY 1, 2)
), pool_c AS (
  SELECT vc AS pvc,
         SUM(n) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p,
         SUM(n) OVER () AS n_p
  FROM (SELECT vc, COUNT(*) AS n FROM ev GROUP BY 1)
), src_pts AS (
  SELECT src, vc, CAST(cum_s AS HUGEINT) AS num, n_s AS den,
         1 AS is_src, CAST(NULL AS BIGINT) AS pool_vc
  FROM src_c
), pool_pts AS (
  SELECT s.src, CAST(NULL AS BIGINT) AS vc, CAST(cum_p AS HUGEINT) AS num,
         n_p AS den, 0 AS is_src, pvc AS pool_vc
  FROM (SELECT DISTINCT src FROM src_c) s, pool_c
), merged AS (
  SELECT *, num * 1000000000000000000 // den AS frac_key
  FROM (SELECT * FROM src_pts UNION ALL BY NAME SELECT * FROM pool_pts)
)
SELECT src, vc,
       FIRST_VALUE(pool_vc IGNORE NULLS)
         OVER (PARTITION BY src ORDER BY frac_key ASC, is_src ASC
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS norm_vc
FROM merged
QUALIFY is_src = 1
"""

ROUND7_QUERIES["quantile_normalization"] = (
    q_quantile_normalization,
    _QNORM_SQL,
)


# ---------------------------------------------------------------------------
# ks_drift_test — exact two-sample Kolmogorov-Smirnov drift statistic
# ---------------------------------------------------------------------------


def q_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test between the first and
    second halves of the event stream (split at the median day by
    calendar midpoint): D = max |F1(x) − F2(x)| over the value-cent
    domain, computed EXACTLY by integer cross-multiplication —
    ``|cum1·n2 − cum2·n1|`` — so the supremum selection never compares
    floats.  The classic nonparametric companion to the PSI monitor
    (`histogram_drift_psi`): PSI needs binning choices, KS does not.

    Scale design: both samples collapse to value-cent histograms (one
    combinable groupBy); the CDF merge runs over the union of distinct
    value-cents (domain-bounded); one row out.
    """
    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        F.to_date(
            F.from_unixtime(
                (
                    F.floor(F.unix_timestamp(F.min("ts")))
                    + F.floor(F.unix_timestamp(F.max("ts")))
                )
                / 2
            )
        ).alias("mid_day")
    )
    tagged = ev.crossJoin(F.broadcast(mid)).select(
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
        F.when(F.to_date("ts") < F.col("mid_day"), 1).otherwise(2).alias("half"),
    )
    hist = tagged.groupBy("vc").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).alias("c2"),
    )
    wcum = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    curves = hist.select(
        "vc",
        F.sum("c1").over(wcum).alias("cum1"),
        F.sum("c2").over(wcum).alias("cum2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    gap = F.abs(
        F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
    )
    return curves.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(gap).alias("ks_scaled"),
        F.round(
            F.max(gap).cast("double")
            / (F.max("n1") * F.max("n2")).cast("double"),
            6,
        ).alias("ks_r6"),
    )


_KS_SQL = oracle_bigint("""
WITH mid AS (
  SELECT CAST(to_timestamp((CAST(floor(epoch(MIN(ts))) AS BIGINT)
                            + CAST(floor(epoch(MAX(ts))) AS BIGINT)) / 2)
              AS DATE) AS mid_day
  FROM events
), tagged AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS vc,
         CASE WHEN CAST(ts AS DATE) < mid_day THEN 1 ELSE 2 END AS half
  FROM events, mid
), hist AS (
  SELECT vc,
         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS c2
  FROM tagged GROUP BY 1
), curves AS (
  SELECT vc,
         SUM(c1) OVER (ORDER BY vc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
         SUM(c2) OVER (ORDER BY vc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
         SUM(c1) OVER () AS n1,
         SUM(c2) OVER () AS n2
  FROM hist
)
SELECT MAX(n1) AS n1, MAX(n2) AS n2,
       MAX(abs(cum1 * n2 - cum2 * n1)) AS ks_scaled,
       round(CAST(MAX(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
             / CAST(MAX(n1) * MAX(n2) AS DOUBLE), 6) AS ks_r6
FROM curves
""", "n1", "n2", "ks_scaled")

ROUND7_QUERIES["ks_drift_test"] = (q_ks_drift_test, _KS_SQL)


# ---------------------------------------------------------------------------
# welch_ttest_price — unequal-variance two-sample t from exact moments
# ---------------------------------------------------------------------------


def q_welch_ttest_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on line-item price between
    returned ('R') and non-returned ('N') items, with the
    Welch-Satterthwaite degrees of freedom — the default two-sample
    mean test when variances differ.  Everything derives from ONE
    combinable pass of exact integer/decimal moments (n, Σx, Σx² in
    cents); t and df are a single IEEE expression over those integers,
    rounded to 6.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("R", "N")
    )
    x = cents("l_extendedprice").cast("decimal(38,0)")
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    p = stats.select(
        F.max(F.when(F.col("l_returnflag") == "R", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("l_returnflag") == "R", F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("l_returnflag") == "R", F.col("sxx"))).alias("sxx1"),
        F.max(F.when(F.col("l_returnflag") == "N", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("l_returnflag") == "N", F.col("sx"))).alias("sx2"),
        F.max(F.when(F.col("l_returnflag") == "N", F.col("sxx"))).alias("sxx2"),
    )
    nd = lambda c: F.col(c).cast("double")  # noqa: E731
    m1 = nd("sx1") / nd("n1")
    m2 = nd("sx2") / nd("n2")
    v1 = (nd("sxx1") - nd("sx1") * nd("sx1") / nd("n1")) / (nd("n1") - 1)
    v2 = (nd("sxx2") - nd("sx2") * nd("sx2") / nd("n2")) / (nd("n2") - 1)
    se2 = v1 / nd("n1") + v2 / nd("n2")
    t = (m1 - m2) / F.sqrt(se2)
    df = (se2 * se2) / (
        (v1 / nd("n1")) * (v1 / nd("n1")) / (nd("n1") - 1)
        + (v2 / nd("n2")) * (v2 / nd("n2")) / (nd("n2") - 1)
    )
    return p.select(
        "n1",
        "n2",
        F.round(m1 - m2, 6).alias("mean_diff_cents_r6"),
        F.round(t, 6).alias("welch_t_r6"),
        F.round(df, 6).alias("welch_df_r6"),
    )


_WELCH_SQL = """
WITH stats AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS HUGEINT)) AS sx,
         SUM(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS HUGEINT)
             * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sxx
  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1
), p AS (
  SELECT MAX(CASE WHEN l_returnflag = 'R' THEN n END) AS n1,
         MAX(CASE WHEN l_returnflag = 'R' THEN sx END) AS sx1,
         MAX(CASE WHEN l_returnflag = 'R' THEN sxx END) AS sxx1,
         MAX(CASE WHEN l_returnflag = 'N' THEN n END) AS n2,
         MAX(CASE WHEN l_returnflag = 'N' THEN sx END) AS sx2,
         MAX(CASE WHEN l_returnflag = 'N' THEN sxx END) AS sxx2
  FROM stats
), m AS (
  SELECT n1, n2,
         CAST(sx1 AS DOUBLE) / n1 AS m1,
         CAST(sx2 AS DOUBLE) / n2 AS m2,
         (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n1) / (n1 - 1) AS v1,
         (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n2) / (n2 - 1) AS v2
  FROM p
), se AS (
  SELECT *, v1 / n1 + v2 / n2 AS se2 FROM m
)
SELECT n1, n2,
       round(m1 - m2, 6) AS mean_diff_cents_r6,
       round((m1 - m2) / sqrt(se2), 6) AS welch_t_r6,
       round((se2 * se2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS welch_df_r6
FROM se
"""

ROUND7_QUERIES["welch_ttest_price"] = (q_welch_ttest_price, _WELCH_SQL)


# ---------------------------------------------------------------------------
# bucketed_join_colocated — write-time shuffle, join-time zero Exchange
# ---------------------------------------------------------------------------

_BUCKETS = 8


def q_bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join through bucketed tables, oracle-gated: lineitem
    and orders are saved bucketed by their join key into the same
    bucket count (`sinks/writer.py::write_bucketed_table`), so the
    orderkey join runs with ZERO join-side Exchange — the shuffle was
    paid once at write time and amortizes over every later join on the
    key.  The builder inspects the formatted plan and FAILS if a
    hash-partitioning exchange on either join key appears, so the
    co-location claim is enforced in the gating query itself, not just
    a unit test; the oracle recomputes the rollup from the raw tables
    — bucketing must be invisible in answers.

    100 TB: this is the canonical pre-shuffled-fact-table layout; the
    remaining Exchange in the plan belongs to the final small rollup
    only.
    """
    import hashlib
    import os

    from etl_portofolio_spark.fixtures import source_fingerprint
    from etl_portofolio_spark.sinks.writer import write_bucketed_table

    # path AND content keyed (same contract as fixtures.fixture_dir):
    # regenerated testdata changes the table names, forcing a rebuild
    tag = hashlib.md5(
        (os.path.abspath(sf_dir) + source_fingerprint(sf_dir)).encode()
    ).hexdigest()[:8]
    li_t, ord_t = f"r7_li_b_{tag}", f"r7_ord_b_{tag}"

    def _clear_stale(table: str) -> None:
        # in-memory catalog: a fresh session forgets the table but the
        # managed location survives; Spark then refuses the CREATE.
        # The data is a pure derivative of the sf tables — rewriting is
        # always safe.  Old-TAG siblings (prior testdata fingerprints)
        # are swept too, matching fixtures._sweep_stale_siblings —
        # otherwise every regeneration leaks a full bucketed copy of
        # the two largest tables into the warehouse dir.
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)
        prefix = table.lower().rsplit("_", 1)[0] + "_"
        try:
            for d in os.listdir(wh):
                if d.startswith(prefix) and d != table.lower():
                    shutil.rmtree(os.path.join(wh, d), ignore_errors=True)
        except FileNotFoundError:
            pass

    if not spark.catalog.tableExists(li_t):
        _clear_stale(li_t)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", cents("l_extendedprice").alias("price_c")
        )
        write_bucketed_table(li, li_t, "l_orderkey", _BUCKETS)
    if not spark.catalog.tableExists(ord_t):
        _clear_stale(ord_t)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        write_bucketed_table(orders, ord_t, "o_orderkey", _BUCKETS)
    joined = (
        spark.table(li_t)
        .join(
            spark.table(ord_t),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("price_c").alias("revenue_cents"),
        )
    )
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    for key in ("l_orderkey", "o_orderkey"):
        if f"hashpartitioning({key}" in plan:
            raise AssertionError(
                f"bucketed join regressed: join-side exchange on {key}"
            )
    return joined


_BUCKETED_SQL = oracle_bigint("""
SELECT o_orderpriority, COUNT(*) AS n_items,
       SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""", "revenue_cents")

ROUND7_QUERIES["bucketed_join_colocated"] = (
    q_bucketed_join_colocated,
    _BUCKETED_SQL,
)


# ---------------------------------------------------------------------------
# streaming_tumbling_oracle — a REAL streaming run, hash-gated
# ---------------------------------------------------------------------------

#: State stores per micro-batch: the aggregation's state is bounded by
#: windows x event types, not by input size (see q_streaming_tumbling_oracle).
_STREAM_STATE_PARTITIONS = "4"


def q_streaming_tumbling_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming executed FOR REAL inside the correctness
    gate: the events table is laid out as time-ordered files, consumed
    as a file-source stream one file per micro-batch with a 1-day
    watermark, aggregated into 6-hour tumbling windows, and drained to
    completion with an availableNow trigger into a memory sink.  The
    oracle is the plain batch SQL — so the streaming engine's state
    management, watermarking, and multi-batch accumulation must
    reproduce the batch answer bit-for-bit.

    Determinism by construction: files are range-partitioned and
    sorted on event time, so each micro-batch's minimum event time is
    >= every earlier batch's maximum — no record ever arrives behind
    the watermark, and the 1-day lateness is never exercised as a drop
    (the no-drop setup a correctness gate needs; the drop path is
    test-gated in `tests/test_io_streaming.py`).  Complete output mode
    emits every window including unfinalized ones.

    100 TB: this IS the production shape — file-source micro-batches,
    watermark-bounded state, window aggregation; availableNow is the
    catch-up/backfill trigger.
    """
    from etl_portofolio_spark.fixtures import ensure_fixture
    from etl_portofolio_spark.streaming.structured import (
        read_file_stream,
        windowed_counts,
    )

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        # 2 time-ranged files -> 2 micro-batches: the minimum that still
        # exercises a real cross-batch watermark advance (batch 1 runs
        # under the watermark set by batch 0's max event time).  Each
        # micro-batch costs ~1.5 s of fixed streaming machinery (offset/
        # commit logs, planning) regardless of rows — the r6 6-batch
        # version spent 4.9 s = 11% of the bench headline on that.
        (
            ev.repartitionByRange(2, F.col("ts"))
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    path = ensure_fixture(sf_dir, "events_stream_ordered", _build)
    stream = read_file_stream(
        spark,
        path,
        schema="event_id bigint, ts timestamp, event_type string, value double",
        max_files_per_trigger=1,
    )
    agg = windowed_counts(stream, window="6 hours", lateness="1 day")
    import hashlib

    sink = f"r7_stream_sink_{hashlib.md5(path.encode()).hexdigest()[:8]}"
    # State-store right-sizing (r10): a streaming aggregation creates
    # one state store PER SHUFFLE PARTITION per micro-batch, and each
    # pays its own snapshot/commit file I/O. This aggregation's state is
    # DOMAIN-bounded (windows x event_types — a few hundred rows at any
    # corpus size, since the calendar and the type domain do not grow
    # with data), so 32 stores per batch were ~28 empty commits of pure
    # fixed cost. Stores should track STATE size, not input size — the
    # map side (file splits) is unaffected.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _STREAM_STATE_PARTITIONS)
    # no-data micro-batches exist to advance the watermark for APPEND-
    # mode finalization; complete mode re-emits full state every batch,
    # so the trailing empty batch is one more round of full machinery
    # (plan + state commit + sink rewrite) that cannot change output
    old_ndm = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", old_ndm
        )
    # session TZ is pinned UTC — format to a string so the comparator
    # never sees engine-specific timestamp rendering
    return spark.table(sink).select(
        F.date_format("w_start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "event_type",
        "n_events",
        "value_cents",
    )


_STREAM_TUMBLING_SQL = oracle_bigint("""
SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S')
         AS w_start,
       event_type,
       COUNT(*) AS n_events,
       SUM(CAST(round(value * 100, 0) AS BIGINT)) AS value_cents
FROM events GROUP BY 1, 2
""", "value_cents")

ROUND7_QUERIES["streaming_tumbling_oracle"] = (
    q_streaming_tumbling_oracle,
    _STREAM_TUMBLING_SQL,
)


# ---------------------------------------------------------------------------
# observe_metrics_audit — pipeline-side metrics via Dataset.observe
# ---------------------------------------------------------------------------


def q_observe_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality counters collected THROUGH the execution pipeline
    with ``Dataset.observe`` (CollectMetricsExec): row count, exact
    revenue cents, and the key envelope ride along with a full-scan
    noop write — zero extra passes, the metrics a production job
    attaches to every load and ships to its monitor
    (`streaming/monitor.py` is the streaming face of the same idea).
    The oracle recomputes the same aggregates declaratively: the
    observed values must be exact, not approximations.

    Only deterministic, order-insensitive aggregates are legal here
    (count / integer sum / min / max) — an observe() of a float sum
    would be partition-order-dependent and could never pass this gate.
    """
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("r7_li_load_audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents("l_extendedprice")).alias("revenue_cents"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["revenue_cents"],
                m["min_orderkey"],
                m["max_orderkey"],
            )
        ],
        "n_rows bigint, revenue_cents bigint, min_orderkey bigint, "
        "max_orderkey bigint",
    )


_OBSERVE_SQL = oracle_bigint("""
SELECT COUNT(*) AS n_rows,
       SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS revenue_cents,
       MIN(l_orderkey) AS min_orderkey,
       MAX(l_orderkey) AS max_orderkey
FROM lineitem
""", "revenue_cents")

ROUND7_QUERIES["observe_metrics_audit"] = (
    q_observe_metrics_audit,
    _OBSERVE_SQL,
)


# ---------------------------------------------------------------------------
# diff_in_diff_lift — two-period causal panel estimate
# ---------------------------------------------------------------------------

_DID_CUTOVER = "2024-01-16"  # mid-range of the 30-day event window


def q_diff_in_diff_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: treatment = odd-user cohort (the
    deterministic assignment `conversion_rate_ztest` also uses),
    periods split at the mid-range cutover date; the DiD estimate is
    ``(post_T − pre_T) − (post_C − pre_C)`` on mean event value —
    the causal panel companion to CUPED (`ab_test_cuped_lift`):
    CUPED reduces variance within one period, DiD removes level
    differences across periods.

    One combinable pass produces the 2×2 cell moments (exact integer
    cents); the four means and the estimate are a single IEEE
    expression rounded to 6.  Per-cell rows emit alongside the
    estimate so the parallel-trends inputs are auditable.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.col("user_id") % 2 == 1).cast("int").alias("treated"),
        (F.to_date("ts") >= F.lit(_DID_CUTOVER).cast("date"))
        .cast("int")
        .alias("post"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_c"),
    )
    nd = lambda c: c.cast("double")  # noqa: E731
    mean_of = lambda t, p: F.max(  # noqa: E731
        F.when(
            (F.col("treated") == t) & (F.col("post") == p),
            nd(F.col("sum_c")) / nd(F.col("n")),
        )
    )
    est = cells.agg(
        mean_of(1, 0).alias("pre_t"),
        mean_of(1, 1).alias("post_t"),
        mean_of(0, 0).alias("pre_c"),
        mean_of(0, 1).alias("post_c"),
    ).select(
        F.lit(-1).alias("treated"),
        F.lit(-1).alias("post"),
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("long").alias("sum_c"),
        F.round(
            (F.col("post_t") - F.col("pre_t"))
            - (F.col("post_c") - F.col("pre_c")),
            6,
        ).alias("did_cents_r6"),
    )
    detail = cells.select(
        "treated",
        "post",
        "n",
        "sum_c",
        F.lit(None).cast("double").alias("did_cents_r6"),
    )
    return detail.unionByName(est)


_DID_SQL = oracle_bigint(f"""
WITH cells AS (
  SELECT CAST(user_id % 2 = 1 AS INT) AS treated,
         CAST(CAST(ts AS DATE) >= DATE '{_DID_CUTOVER}' AS INT) AS post,
         COUNT(*) AS n,
         SUM(CAST(round(value * 100, 0) AS BIGINT)) AS sum_c
  FROM events GROUP BY 1, 2
), est AS (
  SELECT -1 AS treated, -1 AS post,
         CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS sum_c,
         round((MAX(CASE WHEN treated = 1 AND post = 1
                         THEN CAST(sum_c AS DOUBLE) / n END)
                - MAX(CASE WHEN treated = 1 AND post = 0
                           THEN CAST(sum_c AS DOUBLE) / n END))
               - (MAX(CASE WHEN treated = 0 AND post = 1
                           THEN CAST(sum_c AS DOUBLE) / n END)
                  - MAX(CASE WHEN treated = 0 AND post = 0
                             THEN CAST(sum_c AS DOUBLE) / n END)), 6)
           AS did_cents_r6
  FROM cells
)
SELECT treated, post, n, sum_c, CAST(NULL AS DOUBLE) AS did_cents_r6 FROM cells
UNION ALL BY NAME
SELECT * FROM est
""", "sum_c")

ROUND7_QUERIES["diff_in_diff_lift"] = (q_diff_in_diff_lift, _DID_SQL)


# ---------------------------------------------------------------------------
# pca_top_eigenvector — dominant PCA direction by power iteration
# ---------------------------------------------------------------------------

_PCA_DIMS = 64
_PCA_ROUNDS = 8


def q_pca_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding cloud by POWER
    ITERATION over the exact covariance matrix — the whitening /
    dimensionality-diagnostic a representation pipeline runs next to
    `embedding_covariance_topk` (which reports entries; this extracts
    the direction).  Eight fixed iterations from the all-ones start;
    every matrix-vector product accumulates per-term-rounded
    DECIMAL(38,12) partials (order-independent), normalization is one
    IEEE sqrt/division per round with the result re-rounded to 9 — so
    the whole iteration is bit-deterministic and the oracle can replay
    it as eight unrolled SQL rounds.

    Scale design: covariance assembly is the only data-sized stage
    (explode join keyed ON vec_id — shuffle is dims× the vector count,
    never pairs-of-vectors); the iteration itself runs on the D×D
    frame (4096 rows), cost independent of corpus size.  For D where
    D² explode is too wide, the numpy gram kernel
    (`similarity.py`'s Arrow path) is the drop-in; the plan shape
    here is the declarative twin.
    """
    from etl_portofolio_spark.caching import scoped_persist

    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id",
        F.posexplode(F.slice("embedding", 1, _PCA_DIMS)).alias("dim", "xf"),
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("xf").cast("double"), 12)
        .cast("decimal(38,12)")
        .alias("x"),
    )
    comps = scoped_persist(comps)
    means = comps.groupBy("dim").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mu"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    a = comps.select(
        "vec_id", F.col("dim").alias("i"), F.col("x").alias("xa")
    ).join(
        F.broadcast(means.select(F.col("dim").alias("i"), F.col("mu").alias("mu_a"))),
        "i",
    )
    b = comps.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("dim").alias("j"),
        F.col("x").alias("xb"),
    ).join(
        F.broadcast(means.select(F.col("dim").alias("j"), F.col("mu").alias("mu_b"))),
        "j",
    )
    cov = (
        a.join(b, a.vec_id == b.vec_id_b)
        .select(
            "i",
            "j",
            F.round(
                (F.col("xa").cast("double") - F.col("mu_a"))
                * (F.col("xb").cast("double") - F.col("mu_b")),
                12,
            )
            .cast("decimal(38,12)")
            .alias("p"),
        )
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sp"))
        .join(F.broadcast(means.select(F.col("dim").alias("i"), "n")), "i")
        .select(
            "i",
            "j",
            (F.col("sp").cast("double") / F.col("n").cast("double")).alias("c"),
        )
    )
    cov = scoped_persist(cov)
    v = means.select(F.col("dim").alias("j"), F.lit(1.0).alias("v"))
    norm_col = None
    for _ in range(_PCA_ROUNDS):
        w = (
            cov.join(v, "j")
            .select("i", F.round(F.col("c") * F.col("v"), 12).cast(
                "decimal(38,12)"
            ).alias("t"))
            .groupBy("i")
            .agg(F.sum("t").cast("double").alias("w"))
        )
        nrm = w.agg(
            F.sqrt(
                F.sum(F.round(F.col("w") * F.col("w"), 12).cast("decimal(38,12)"))
                .cast("double")
            ).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("j"),
            F.round(F.col("w") / F.col("nrm"), 9).alias("v"),
            F.col("nrm"),
        )
        # truncate lineage each round: without this the plan doubles per
        # iteration (task binaries 1.6→12 MiB over 8 rounds, ~100 s at
        # sf0.1); the checkpointed frame is 64 rows — same discipline as
        # the PageRank/CC/k-core loops
        v = v.localCheckpoint(eager=True)
        norm_col = "nrm"
    return v.select(
        F.col("j").alias("dim"),
        F.round("v", 6).alias("loading_r6"),
        F.round(norm_col, 6).alias("eigenvalue_r6"),
    )


def _pca_oracle() -> str:
    # Every CTE is MATERIALIZED: round r reads v{r-1} and n{r}, so an
    # inlined chain re-expands all earlier rounds (exponential plan; the
    # un-materialized oracle ran DuckDB out of memory). Same semantics.
    rounds = []
    prev = "v0"
    for r in range(1, _PCA_ROUNDS + 1):
        rounds.append(
            f""", w{r} AS MATERIALIZED (
  SELECT c.i, CAST(SUM(CAST(round(c.c * p.v, 12) AS DECIMAL(38,12))) AS DOUBLE) AS w
  FROM cov c JOIN {prev} p ON c.j = p.j GROUP BY 1
), n{r} AS MATERIALIZED (
  SELECT sqrt(CAST(SUM(CAST(round(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
  FROM w{r}
), v{r} AS MATERIALIZED (
  SELECT i AS j, round(w / nrm, 9) AS v FROM w{r}, n{r}
)"""
        )
        prev = f"v{r}"
    return f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id, CAST(u.i - 1 AS INT) AS dim,
         CAST(round(CAST(embedding[u.i] AS DOUBLE), 12) AS DECIMAL(38,12)) AS x
  FROM embeddings, LATERAL unnest(generate_series(1, {_PCA_DIMS})) AS u(i)
), m AS MATERIALIZED (
  SELECT dim, CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu, COUNT(*) AS n
  FROM ex GROUP BY 1
), cov AS MATERIALIZED (
  SELECT a.dim AS i, b.dim AS j,
         CAST(SUM(CAST(round((CAST(a.x AS DOUBLE) - ma.mu)
                             * (CAST(b.x AS DOUBLE) - mb.mu), 12)
                       AS DECIMAL(38,12))) AS DOUBLE)
         / CAST(MAX(ma.n) AS DOUBLE) AS c
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id
  JOIN m ma ON ma.dim = a.dim JOIN m mb ON mb.dim = b.dim
  GROUP BY 1, 2
), v0 AS MATERIALIZED (
  SELECT dim AS j, 1.0 AS v FROM m
){''.join(rounds)}
SELECT v.j AS dim, round(v.v, 6) AS loading_r6,
       round(n{_PCA_ROUNDS}.nrm, 6) AS eigenvalue_r6
FROM v{_PCA_ROUNDS} v, n{_PCA_ROUNDS}
"""


ROUND7_QUERIES["pca_top_eigenvector"] = (
    q_pca_top_eigenvector,
    _pca_oracle(),
)


# ---------------------------------------------------------------------------
# hybrid_rrf_fusion — reciprocal-rank fusion of lexical + vector rankings
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_DEPTH = 100
_RRF_TERMS = ("spark", "table", "hash", "merge")


def q_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion: a lexical ranking
    (panel-term hit count over documents) and a vector ranking (cosine
    against the vec_id=0 probe embedding) fuse as
    ``Σ 1/(60 + rank)`` over each list's top-100 — the standard
    RAG-stack merge of BM25-style and ANN retrieval, rank-based so
    the two score scales never need calibrating.

    Scale design: each list is a TakeOrderedAndProject top-100 (never
    a global sort); ranks come from windows over those 100-row frames;
    the fusion join is id-keyed over <=200 rows.  Cosine dot products
    accumulate per-term-rounded DECIMAL partials in fixed array order;
    both scores round to 6 BEFORE ranking (the cross-engine ranking
    rule), ids break ties everywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    lex_score = F.size(
        F.filter(F.split("text", " "), lambda t: t.isin(*_RRF_TERMS))
    )
    lex_top = (
        docs.select(F.col("doc_id").alias("id"), lex_score.alias("s"))
        .orderBy(F.col("s").desc(), F.col("id").asc())
        .limit(_RRF_DEPTH)
    )
    # bounded: top-_RRF_DEPTH lexical panel
    wl = Window.orderBy(F.col("s").desc(), F.col("id").asc())
    lex_ranked = lex_top.select("id", F.row_number().over(wl).alias("r_lex"))

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode("embedding").alias("dim", "xf"),
    ).select("id", "dim", F.col("xf").cast("double").alias("x"))
    probe = ex.where(F.col("id") == 0).select(
        "dim", F.col("x").alias("p")
    )
    scored = (
        ex.join(F.broadcast(probe), "dim")
        .groupBy("id")
        .agg(
            F.sum(
                F.round(F.col("x") * F.col("p"), 12).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("dot"),
            F.sqrt(
                F.sum(
                    F.round(F.col("x") * F.col("x"), 12).cast("decimal(38,12)")
                ).cast("double")
            ).alias("nx"),
        )
        .where(F.col("id") != 0)
        .select("id", F.round(F.col("dot") / F.col("nx"), 6).alias("s"))
    )
    vec_top = scored.orderBy(F.col("s").desc(), F.col("id").asc()).limit(
        _RRF_DEPTH
    )
    # bounded: top-_RRF_DEPTH vector panel
    wv = Window.orderBy(F.col("s").desc(), F.col("id").asc())
    vec_ranked = vec_top.select("id", F.row_number().over(wv).alias("r_vec"))

    fused = lex_ranked.join(vec_ranked, "id", "full").select(
        "id",
        "r_lex",
        "r_vec",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_vec")), F.lit(0.0)
            ),
            9,
        ).alias("rrf_r9"),
    )
    return fused.orderBy(F.col("rrf_r9").desc(), F.col("id").asc()).limit(10)


_RRF_SQL = f"""
WITH lex_top AS (
  SELECT doc_id AS id,
         len(list_filter(string_split(text, ' '),
             x -> x IN ({", ".join("'" + t + "'" for t in _RRF_TERMS)}))) AS s
  FROM documents ORDER BY s DESC, id ASC LIMIT {_RRF_DEPTH}
), lex_ranked AS (
  SELECT id, ROW_NUMBER() OVER (ORDER BY s DESC, id ASC) AS r_lex FROM lex_top
), ex AS (
  SELECT vec_id AS id, CAST(u.i AS INT) - 1 AS dim,
         CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, LATERAL unnest(generate_series(1, 64)) AS u(i)
), probe AS (
  SELECT dim, x AS p FROM ex WHERE id = 0
), scored AS (
  SELECT e.id,
         round(CAST(SUM(CAST(round(e.x * p.p, 12) AS DECIMAL(38,12))) AS DOUBLE)
               / sqrt(CAST(SUM(CAST(round(e.x * e.x, 12) AS DECIMAL(38,12)))
                           AS DOUBLE)), 6) AS s
  FROM ex e JOIN probe p ON e.dim = p.dim
  WHERE e.id <> 0
  GROUP BY e.id
), vec_top AS (
  SELECT id, s FROM scored ORDER BY s DESC, id ASC LIMIT {_RRF_DEPTH}
), vec_ranked AS (
  SELECT id, ROW_NUMBER() OVER (ORDER BY s DESC, id ASC) AS r_vec FROM vec_top
)
SELECT COALESCE(l.id, v.id) AS id, l.r_lex, v.r_vec,
       round(COALESCE(1.0 / ({_RRF_K} + l.r_lex), 0)
             + COALESCE(1.0 / ({_RRF_K} + v.r_vec), 0), 9) AS rrf_r9
FROM lex_ranked l FULL JOIN vec_ranked v ON l.id = v.id
ORDER BY rrf_r9 DESC, id ASC LIMIT 10
"""

ROUND7_QUERIES["hybrid_rrf_fusion"] = (q_hybrid_rrf_fusion, _RRF_SQL)


# ---------------------------------------------------------------------------
# business_days_latency — closed-form business-day arithmetic
# ---------------------------------------------------------------------------

#: a Monday far before every date in the data (1970-01-05)
_BD_EPOCH = "1970-01-05"


def q_business_days_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-ship latency in BUSINESS days per order priority —
    SLA reporting that must not count weekends.  Business-day counting
    is CLOSED FORM (no calendar table, no explode):
    ``g(d) = 5·(days_since_monday_epoch ÷ 7) + min(days mod 7, 5)``
    counts business days from a fixed epoch Monday, and the latency is
    ``g(ship) − g(order)`` — pure integer arithmetic on datediffs,
    identical in both engines.

    Scale design: one combinable groupBy to first-ship per order, one
    map-side expression per row, one rollup by priority; the latency
    histogram emits mean scaled to integers (sum/count separately) so
    no float aggregate exists.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("od")
    )
    li = load_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("sd")
    )

    def g(col: str):
        days = F.datediff(F.col(col), F.lit(_BD_EPOCH).cast("date"))
        return F.lit(5) * F.floor(days / 7) + F.least(
            days - F.lit(7) * F.floor(days / 7), F.lit(5)
        )

    paired = orders.join(
        first_ship, orders.o_orderkey == first_ship.l_orderkey
    ).select(
        "o_orderpriority", (g("sd") - g("od")).cast("long").alias("bdays")
    )
    return paired.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("bdays").alias("sum_bdays"),
        F.min("bdays").alias("min_bdays"),
        F.max("bdays").alias("max_bdays"),
    )


_BDAYS_SQL = oracle_bigint(f"""
WITH first_ship AS (
  SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS sd
  FROM lineitem GROUP BY 1
), paired AS (
  SELECT o.o_orderpriority,
         (5 * ((datediff('day', DATE '{_BD_EPOCH}', s.sd)) // 7)
          + least(datediff('day', DATE '{_BD_EPOCH}', s.sd)
                  - 7 * ((datediff('day', DATE '{_BD_EPOCH}', s.sd)) // 7), 5))
         - (5 * ((datediff('day', DATE '{_BD_EPOCH}', CAST(o.o_orderdate AS DATE))) // 7)
            + least(datediff('day', DATE '{_BD_EPOCH}', CAST(o.o_orderdate AS DATE))
                    - 7 * ((datediff('day', DATE '{_BD_EPOCH}', CAST(o.o_orderdate AS DATE))) // 7), 5))
           AS bdays
  FROM orders o JOIN first_ship s ON o.o_orderkey = s.l_orderkey
)
SELECT o_orderpriority, COUNT(*) AS n_orders, SUM(bdays) AS sum_bdays,
       MIN(bdays) AS min_bdays, MAX(bdays) AS max_bdays
FROM paired GROUP BY 1
""", "sum_bdays")

ROUND7_QUERIES["business_days_latency"] = (
    q_business_days_latency,
    _BDAYS_SQL,
)


# ---------------------------------------------------------------------------
# brand_series_correlation_topk — time-series similarity over brands
# ---------------------------------------------------------------------------


def q_brand_series_correlation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which brands move together?  Pearson correlation between every
    brand pair's MONTHLY revenue series, top-20 most-correlated pairs
    — the time-series similarity search behind "related products" and
    demand-transfer analysis.

    Scale design: the fact table collapses once to (brand, month,
    cents); the pair frame is |brands|² month-joined series — DOMAIN-
    bounded (25 brands × ~84 months), never fact-sized.  Correlations
    assemble from exact integer sums (DECIMAL second moments), round
    to 6 BEFORE the top-k ordering, brand pair breaks ties; only
    pairs with full month overlap and nonzero variance rank.
    """
    from etl_portofolio_spark.caching import scoped_persist

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand", F.date_format("l_shipdate", "yyyy-MM").alias("month")
        )
        .agg(F.sum(cents("l_extendedprice")).alias("rev"))
    )
    monthly = scoped_persist(monthly)
    a = monthly.select(
        F.col("p_brand").alias("ba"), "month", F.col("rev").alias("xa")
    )
    b = monthly.select(
        F.col("p_brand").alias("bb"), "month", F.col("rev").alias("xb")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    moments = (
        a.join(b, "month")
        .where(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xa").alias("sx"),
            F.sum("xb").alias("sy"),
            F.sum(dec(F.col("xa")) * F.col("xa")).alias("sxx"),
            F.sum(dec(F.col("xb")) * F.col("xb")).alias("syy"),
            F.sum(dec(F.col("xa")) * F.col("xb")).alias("sxy"),
        )
    )
    nd = lambda c: F.col(c).cast("double")  # noqa: E731
    num = nd("n") * nd("sxy") - nd("sx") * nd("sy")
    varx = nd("n") * nd("sxx") - nd("sx") * nd("sx")
    vary = nd("n") * nd("syy") - nd("sy") * nd("sy")
    corr = moments.where((varx > 0) & (vary > 0)).select(
        "ba",
        "bb",
        "n",
        F.round(num / F.sqrt(varx * vary), 6).alias("corr_r6"),
    )
    return corr.orderBy(
        F.col("corr_r6").desc(), F.col("ba").asc(), F.col("bb").asc()
    ).limit(20)


_BRAND_CORR_SQL = """
WITH monthly AS (
  SELECT p_brand, strftime(l_shipdate, '%Y-%m') AS month,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
), moments AS (
  SELECT a.p_brand AS ba, b.p_brand AS bb, COUNT(*) AS n,
         SUM(a.rev) AS sx, SUM(b.rev) AS sy,
         SUM(CAST(a.rev AS HUGEINT) * a.rev) AS sxx,
         SUM(CAST(b.rev AS HUGEINT) * b.rev) AS syy,
         SUM(CAST(a.rev AS HUGEINT) * b.rev) AS sxy
  FROM monthly a JOIN monthly b
    ON a.month = b.month AND a.p_brand < b.p_brand
  GROUP BY 1, 2
)
SELECT ba, bb, n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
         AS corr_r6
FROM moments
WHERE (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
  AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
ORDER BY corr_r6 DESC, ba ASC, bb ASC LIMIT 20
"""

ROUND7_QUERIES["brand_series_correlation_topk"] = (
    q_brand_series_correlation_topk,
    _BRAND_CORR_SQL,
)


# ---------------------------------------------------------------------------
# weekday_seasonality_index — day-of-week effect as exact rationals
# ---------------------------------------------------------------------------


def q_weekday_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index for order revenue: each weekday's
    mean daily revenue over the grand mean daily revenue, scaled so
    1000 = average — the calendar-effect profile demand planning
    divides out before trend fitting (the weekly companion to
    `seasonal_decomposition`'s additive split).

    Exactness: both means are rationals of integer cents and day
    counts; the index is one IEEE division chain scaled by 1000 and
    rounded to 4.  ISO weekday (1=Mon) is pure datediff arithmetic
    modulo 7 from an epoch Monday — identical in both engines, no
    locale-dependent dayname anywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("rev_c")
    )
    dow = (
        F.datediff(F.col("day"), F.lit(_BD_EPOCH).cast("date")) % 7 + 1
    ).cast("int")
    per_dow = daily.select(dow.alias("iso_dow"), "rev_c").groupBy(
        "iso_dow"
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rev_c").alias("rev_cents"),
    )
    wall = Window.partitionBy()
    return per_dow.select(
        "iso_dow",
        "n_days",
        "rev_cents",
        F.round(
            F.lit(1000.0)
            * (F.col("rev_cents").cast("double") / F.col("n_days").cast("double"))
            / (
                F.sum("rev_cents").over(wall).cast("double")
                / F.sum("n_days").over(wall).cast("double")
            ),
            4,
        ).alias("index_r4"),
    )


_WEEKDAY_IDX_SQL = oracle_bigint(f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1
), per_dow AS (
  SELECT CAST(datediff('day', DATE '{_BD_EPOCH}', day) % 7 + 1 AS INT)
           AS iso_dow,
         COUNT(*) AS n_days, SUM(rev_c) AS rev_cents
  FROM daily GROUP BY 1
)
SELECT iso_dow, n_days, rev_cents,
       round(1000.0 * (CAST(rev_cents AS DOUBLE) / n_days)
             / (SUM(rev_cents) OVER () * 1.0 / SUM(n_days) OVER ()), 4)
         AS index_r4
FROM per_dow
""", "rev_cents")

ROUND7_QUERIES["weekday_seasonality_index"] = (
    q_weekday_seasonality_index,
    _WEEKDAY_IDX_SQL,
)
