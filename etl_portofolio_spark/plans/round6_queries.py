"""Round-6 query wave.

Each entry: name -> (builder(spark, sf_dir) -> DataFrame, DuckDB oracle SQL).
Same determinism contract as every other wave: md5-based hashing only,
DECIMAL/integer-cents accumulators for money, identical column aliases
between the Spark plan and the oracle.

This wave closes the two read-path evidence gaps VERDICT r5 called out:
the zonemap-pruned scan (`sources/skipping.py`) and the WAP
time-travel read (`sinks/writer.py::read_snapshot`) had test-only
coverage; here each one backs an oracle-hash-gated registry query.
Both build a small on-disk fixture derived deterministically from the
sf tables (idempotent, keyed by sf_dir), so DuckDB can recompute the
expected answer straight from the source parquet — the fixture
machinery must be *invisible* in the results.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.plans.analytics_queries import cents
from etl_portofolio_spark.plans.oracle_types import oracle_bigint

def _round_half_up(x: float, k: int) -> float:
    """Driver-side scalar rounding matching Spark's F.round / DuckDB's
    round (HALF_UP away from zero on the shortest decimal repr) —
    Python's built-in round() is HALF_EVEN and would diverge exactly
    on the .5 boundary."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-k)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


# Derived-fixture cache: content-keyed paths + atomic publish live in
# `etl_portofolio_spark.fixtures` (r6 postmortem: a path-keyed cache
# can serve stale state after testdata regeneration).  `_fixture_dir`
# stays importable for tests that need to locate a fixture.
from etl_portofolio_spark.fixtures import (  # noqa: E402
    ensure_fixture,
    fixture_dir as _fixture_dir,
)


# ---------------------------------------------------------------------------
# zonemap_pruned_scan — read-side data skipping, gated by the oracle
# ---------------------------------------------------------------------------


def q_zonemap_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate served through zonemap file pruning.

    Lays ``events`` out range-clustered on ``event_id`` (8 files with
    disjoint envelopes — the write-side half, `sinks/writer.py:357`),
    then answers a narrow range scan via
    `sources/skipping.py::skipping_scan`: footer-stat envelopes prune
    the file list BEFORE any data IO, and the exact predicate re-applies
    on the survivors.  The builder asserts the physical read touched a
    strict subset of the files — a silent no-prune regression fails the
    query, not just a unit test.  The oracle filters the original
    table: pruning must be invisible in results, visible in
    ``inputFiles()``.

    100 TB: pruning cost is O(#files) footer metadata; the data read is
    bounded by the predicate's true selectivity (1/20th of the key
    space → ~1/20th of the files), independent of table width or row
    count.  This is the same file-level skipping contract as Delta
    stats / Iceberg manifests.
    """
    from etl_portofolio_spark.sinks.writer import write_range_clustered
    from etl_portofolio_spark.sources.skipping import footer_zonemap, skipping_scan

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        write_range_clustered(ev, tmp, "event_id", n_files=8)

    path = ensure_fixture(sf_dir, "events_clustered", _build)
    # event_id is a non-null bigint: the footer envelopes' extremes are
    # the table's exact min/max, with no aggregate job
    zmap = footer_zonemap(path, "event_id")
    lo = min(zmin for _, zmin, _, _ in zmap)
    hi = lo + (max(zmax for _, _, zmax, _ in zmap) - lo) // 20
    df = skipping_scan(spark, path, "event_id", lo, hi, zonemap=zmap)
    n_read = len(df.inputFiles())
    if not 0 < n_read < 8:
        raise AssertionError(
            f"zonemap pruning regressed: read {n_read} of 8 files for a "
            "1/20th-key-space range"
        )
    return df.select("event_id", "user_id", "value")


_ZONEMAP_PRUNED_SCAN_SQL = """
SELECT event_id, user_id, value
FROM events
WHERE event_id <= (
    SELECT min(event_id) + (max(event_id) - min(event_id)) // 20 FROM events
)
"""


# ---------------------------------------------------------------------------
# wap_time_travel_delta — snapshot version diff through read_snapshot
# ---------------------------------------------------------------------------


def q_wap_time_travel_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel across WAP snapshot versions, gated by the oracle.

    Publishes two audited snapshot versions of a monthly-revenue rollup
    (`sinks/writer.py::publish_snapshot`): v1 from orders before
    1998-01-01, v2 from all orders.  The query then reads the PREVIOUS
    version via ``read_snapshot(version=...)`` (time travel inside the
    retention window) and the live pointer via ``read_snapshot()``,
    and reports the per-month revenue delta — the "what changed since
    the last publish" audit every WAP consumer runs.  The oracle
    recomputes both rollups straight from ``orders``; the snapshot
    store must be a pure materialization.

    100 TB: both reads are ordinary pruned parquet scans of one version
    directory; the diff is a broadcast-size join (months are calendar-
    bounded).  Publishing is the audited atomic-pointer protocol —
    no reader ever sees a partial snapshot.
    """
    from etl_portofolio_spark.sinks.writer import (
        publish_snapshot,
        read_snapshot,
        snapshot_versions,
    )

    def _build(tmp: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        monthly = (
            orders.groupBy(
                F.date_format("o_orderdate", "yyyy-MM").alias("month")
            )
            .agg(F.sum(cents("o_totalprice")).alias("revenue_cents"))
        )
        cut = F.lit("1998-01-01").cast("timestamp")
        v1 = (
            orders.where(F.col("o_orderdate") < cut)
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
            .agg(F.sum(cents("o_totalprice")).alias("revenue_cents"))
        )
        publish_snapshot(spark, v1, tmp)
        publish_snapshot(spark, monthly, tmp)

    root = ensure_fixture(
        sf_dir,
        "wap_orders",
        _build,
        ready=lambda p: len(snapshot_versions(spark, p)) >= 2,
    )
    versions = snapshot_versions(spark, root)
    old = read_snapshot(spark, root, version=versions[-2])
    cur = read_snapshot(spark, root)  # resolves the live pointer
    # freshness audit: a materialization that can silently diverge from
    # its definition is the failure WAP exists to prevent — compare one
    # aggregate of the live snapshot against a recompute and refuse to
    # answer from a stale store (content keying makes this unreachable
    # in normal operation; tampering or manual edits still trip it)
    live_total = cur.agg(F.sum("revenue_cents")).first()[0]
    true_total = (
        load_table(spark, sf_dir, "orders")
        .agg(F.sum(cents("o_totalprice")))
        .first()[0]
    )
    if live_total != true_total:
        raise AssertionError(
            f"wap_orders live snapshot is stale: snapshot total "
            f"{live_total} != source total {true_total} — rebuild the "
            "fixture (delete its cache dir) instead of serving drift"
        )
    return (
        cur.alias("cur")
        .join(old.alias("old"), "month", "left")
        .select(
            "month",
            F.coalesce(F.col("old.revenue_cents"), F.lit(0).cast("long")).alias(
                "rev_old_cents"
            ),
            F.col("cur.revenue_cents").alias("rev_new_cents"),
            (
                F.col("cur.revenue_cents")
                - F.coalesce(F.col("old.revenue_cents"), F.lit(0).cast("long"))
            ).alias("delta_cents"),
        )
    )


_WAP_TIME_TRAVEL_DELTA_SQL = oracle_bigint("""
WITH cur AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev
  FROM orders GROUP BY 1
), old AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1
)
SELECT cur.month AS month,
       COALESCE(old.rev, 0) AS rev_old_cents,
       cur.rev AS rev_new_cents,
       cur.rev - COALESCE(old.rev, 0) AS delta_cents
FROM cur LEFT JOIN old ON cur.month = old.month
""", "rev_old_cents", "rev_new_cents", "delta_cents")


ROUND6_QUERIES: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "zonemap_pruned_scan": (q_zonemap_pruned_scan, _ZONEMAP_PRUNED_SCAN_SQL),
    "wap_time_travel_delta": (
        q_wap_time_travel_delta,
        _WAP_TIME_TRAVEL_DELTA_SQL,
    ),
}


# ---------------------------------------------------------------------------
# pareto_frontier_customers — 2-D skyline with bucket pruning
# ---------------------------------------------------------------------------


def q_pareto_frontier_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier: customers not dominated on
    (revenue max, order-count min) — "most revenue from fewest orders".

    Scale design: never the all-pairs dominance test.  Rows bucket by
    revenue band; the minimum order-count per band suffixes into a
    driver-side table (O(#bands) rows — bounded by the value range,
    not the data).  Any row whose order count is >= the suffix-min of
    strictly higher bands is dominated by SOME higher-revenue row and
    drops before any join.  Only the survivors (a near-frontier sliver)
    enter the exact dominance check, and that join is keyed on the
    band — same-band pairs only; cross-band dominance is already
    decided by the suffix-min.  The oracle is the textbook NOT EXISTS.

    Proof the pre-filter is lossless: if B dominates A from a higher
    band, suffix_min[band(A)] <= B.n <= A.n, so A is pre-filtered; a
    same-band dominator B that was itself pre-filtered implies a
    higher-band C with C.n <= B.n <= A.n, which pre-filters A too.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(cents("o_totalprice")).alias("rev_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    band_w = 1_000_000  # $10k revenue bands
    banded = cust.withColumn(
        "band", F.floor(F.col("rev_cents") / F.lit(band_w)).cast("long")
    )
    mins = {
        r["band"]: r["m"]
        for r in banded.groupBy("band").agg(F.min("n_orders").alias("m")).collect()
    }
    suffix: dict[int, int] = {}
    running = None
    for b in sorted(mins, reverse=True):
        suffix[b] = running if running is not None else None
        running = mins[b] if running is None else min(running, mins[b])
    suffix_df = spark.createDataFrame(
        [(b, s) for b, s in suffix.items() if s is not None],
        "band long, smin long",
    )
    pre = banded.join(F.broadcast(suffix_df), "band", "left").where(
        F.col("smin").isNull() | (F.col("n_orders") < F.col("smin"))
    )
    a = pre.select("band", "custkey", "rev_cents", "n_orders")
    b = pre.select(
        F.col("band").alias("band_b"),
        F.col("rev_cents").alias("rev_b"),
        F.col("n_orders").alias("n_b"),
    )
    dominated = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("rev_b") >= F.col("rev_cents"))
            & (F.col("n_b") <= F.col("n_orders"))
            & (
                (F.col("rev_b") > F.col("rev_cents"))
                | (F.col("n_b") < F.col("n_orders"))
            ),
            "left_semi",
        )
    )
    return (
        a.join(dominated.select("custkey"), "custkey", "left_anti")
        .select("custkey", "rev_cents", "n_orders")
    )


_PARETO_SQL = oracle_bigint("""
WITH cust AS (
  SELECT o_custkey AS custkey,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_cents,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT custkey, rev_cents, n_orders
FROM cust a
WHERE NOT EXISTS (
  SELECT 1 FROM cust b
  WHERE b.rev_cents >= a.rev_cents AND b.n_orders <= a.n_orders
    AND (b.rev_cents > a.rev_cents OR b.n_orders < a.n_orders)
)
""", "rev_cents")


# ---------------------------------------------------------------------------
# revenue_bridge_by_brand — price/volume waterfall decomposition
# ---------------------------------------------------------------------------


def q_revenue_bridge_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue bridge per brand (1996 -> 1997): the BI
    waterfall splitting the revenue delta into a price effect
    (qty97 * Δunit-price) and a volume effect (p96 * Δqty), with the
    exact integer residual.  Identity in reals:
    Δrev = qty97·(p97-p96) + p96·(qty97-qty96); rounded components
    leave a residual of at most a cent or two, carried explicitly so
    the bridge SUMS EXACTLY to the integer delta.

    Scale: one lineitem scan (year filter pushed to parquet), one
    broadcast join to part for the brand, one 25-row aggregate —
    map-side partials all the way; unit prices are the only doubles
    and they derive from identical integer sums in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    yearly = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand", F.year("l_shipdate").alias("yr")
        )
        .agg(
            F.sum(cents("l_extendedprice")).alias("rev_c"),
            F.sum(cents("l_quantity")).alias("qty_c"),
        )
    )
    y96 = yearly.where(F.col("yr") == 1996).select(
        "p_brand",
        F.col("rev_c").alias("rev96_c"),
        F.col("qty_c").alias("qty96_c"),
    )
    y97 = yearly.where(F.col("yr") == 1997).select(
        "p_brand",
        F.col("rev_c").alias("rev97_c"),
        F.col("qty_c").alias("qty97_c"),
    )
    p96 = F.col("rev96_c").cast("double") / F.col("qty96_c").cast("double")
    p97 = F.col("rev97_c").cast("double") / F.col("qty97_c").cast("double")
    price_eff = F.round(F.col("qty97_c").cast("double") * (p97 - p96), 0).cast(
        "long"
    )
    vol_eff = F.round(
        p96 * (F.col("qty97_c") - F.col("qty96_c")).cast("double"), 0
    ).cast("long")
    return (
        y96.join(y97, "p_brand")
        .select(
            F.col("p_brand").alias("brand"),
            "rev96_c",
            "rev97_c",
            (F.col("rev97_c") - F.col("rev96_c")).alias("delta_c"),
            price_eff.alias("price_effect_c"),
            vol_eff.alias("volume_effect_c"),
            (
                F.col("rev97_c") - F.col("rev96_c") - price_eff - vol_eff
            ).alias("residual_c"),
        )
    )


_BRIDGE_SQL = oracle_bigint("""
WITH yearly AS (
  SELECT p_brand, EXTRACT(year FROM l_shipdate) AS yr,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev_c,
         SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS qty_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
), y96 AS (SELECT p_brand, rev_c AS rev96_c, qty_c AS qty96_c FROM yearly WHERE yr = 1996),
   y97 AS (SELECT p_brand, rev_c AS rev97_c, qty_c AS qty97_c FROM yearly WHERE yr = 1997)
SELECT y96.p_brand AS brand, rev96_c, rev97_c,
       rev97_c - rev96_c AS delta_c,
       CAST(round(CAST(qty97_c AS DOUBLE)
            * (CAST(rev97_c AS DOUBLE) / CAST(qty97_c AS DOUBLE)
               - CAST(rev96_c AS DOUBLE) / CAST(qty96_c AS DOUBLE)), 0) AS BIGINT)
         AS price_effect_c,
       CAST(round((CAST(rev96_c AS DOUBLE) / CAST(qty96_c AS DOUBLE))
            * CAST(qty97_c - qty96_c AS DOUBLE), 0) AS BIGINT)
         AS volume_effect_c,
       rev97_c - rev96_c
         - CAST(round(CAST(qty97_c AS DOUBLE)
                * (CAST(rev97_c AS DOUBLE) / CAST(qty97_c AS DOUBLE)
                   - CAST(rev96_c AS DOUBLE) / CAST(qty96_c AS DOUBLE)), 0) AS BIGINT)
         - CAST(round((CAST(rev96_c AS DOUBLE) / CAST(qty96_c AS DOUBLE))
                * CAST(qty97_c - qty96_c AS DOUBLE), 0) AS BIGINT)
         AS residual_c
FROM y96 JOIN y97 ON y96.p_brand = y97.p_brand
""", "rev96_c", "rev97_c", "delta_c", "residual_c")


ROUND6_QUERIES["pareto_frontier_customers"] = (
    q_pareto_frontier_customers,
    _PARETO_SQL,
)
ROUND6_QUERIES["revenue_bridge_by_brand"] = (
    q_revenue_bridge_by_brand,
    _BRIDGE_SQL,
)


# ---------------------------------------------------------------------------
# abc_pareto_classification — cumulative-share ABC classes, prebin discipline
# ---------------------------------------------------------------------------


def q_abc_pareto_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: rank parts by revenue descending,
    classify by cumulative revenue share (A ≤ 80%, B ≤ 95%, C rest),
    report per-class part counts and revenue.

    The global running total NEVER runs as one sorted task: parts
    prebin by a revenue band, the per-band totals collect driver-side
    (O(#bands) rows), exclusive suffix offsets broadcast back, and the
    within-band running sum is a window PARTITIONED BY band — the
    equi-depth discipline (`plans/round4_queries.py`) applied to
    cumulative-share classification.  Ties rank by part key, so the
    class boundary is bit-deterministic in both engines.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    parts = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(cents("l_extendedprice")).alias("rev_c")
    )
    band_w = 1_000_000
    banded = parts.withColumn(
        "band", F.floor(F.col("rev_c") / F.lit(band_w)).cast("long")
    )
    band_tot = {
        r["band"]: r["s"]
        for r in banded.groupBy("band").agg(F.sum("rev_c").alias("s")).collect()
    }
    total = sum(band_tot.values())
    # exclusive offset: revenue of all strictly HIGHER bands (rank desc)
    off: dict[int, int] = {}
    running = 0
    for bb in sorted(band_tot, reverse=True):
        off[bb] = running
        running += band_tot[bb]
    off_df = spark.createDataFrame(
        [(bb, o) for bb, o in off.items()], "band long, off long"
    )
    w = Window.partitionBy("band").orderBy(
        F.col("rev_c").desc(), F.col("partkey")
    )
    cum = (
        banded.join(F.broadcast(off_df), "band")
        .withColumn("run", F.sum("rev_c").over(w))
        .withColumn(
            "share",
            (F.col("off") + F.col("run")).cast("double")
            / F.lit(float(total)),
        )
    )
    cls = F.when(F.col("share") <= 0.80, F.lit("A")).otherwise(
        F.when(F.col("share") <= 0.95, F.lit("B")).otherwise(F.lit("C"))
    )
    return (
        cum.groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_c").alias("class_rev_cents"),
        )
    )


_ABC_SQL = oracle_bigint("""
WITH parts AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev_c
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT partkey, rev_c,
         CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, partkey) AS DOUBLE)
           / CAST((SELECT SUM(rev_c) FROM parts) AS DOUBLE) AS share
  FROM parts
)
SELECT CASE WHEN share <= 0.80 THEN 'A'
            WHEN share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class,
       COUNT(*) AS n_parts,
       SUM(rev_c) AS class_rev_cents
FROM ranked
GROUP BY 1
""", "class_rev_cents")


# ---------------------------------------------------------------------------
# prorated_revenue_by_shipmode — largest-remainder integer allocation
# ---------------------------------------------------------------------------


def q_prorated_revenue_by_shipmode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Largest-remainder proration: spread each order's header total
    across its line items proportional to extended price, in EXACT
    integer cents — floor shares first, then the leftover cents go to
    the largest fractional remainders (line number breaks ties), so
    per-order allocations sum to the header total BY CONSTRUCTION.
    The allocation then re-attributes revenue by ship mode.

    The finance-grade allocation operator: pure integer arithmetic end
    to end (floor division and modulo on cents — no doubles anywhere),
    and every window partitions by order key, so parallelism is the
    order count and no global sort exists.  lineitem ships no
    shipmode column in this fixture, so the mode derives
    deterministically from the line number (stable across engines).
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        cents("l_extendedprice").alias("w"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        cents("o_totalprice").alias("total_c"),
    )
    per_order = Window.partitionBy("l_orderkey")
    rank_w = Window.partitionBy("l_orderkey").orderBy(
        F.col("frac").desc(), F.col("l_linenumber")
    )
    alloc = (
        li.join(orders, "l_orderkey")
        .withColumn("sumw", F.sum("w").over(per_order))
        # `div`, not `/`+floor: long/long `/` is IEEE double division,
        # exact only while total_c*w < 2^53; `div` is true integer
        # division at any magnitude, matching the oracle's `//`
        .withColumn(
            "base", F.expr("(total_c * w) div sumw").cast("long")
        )
        .withColumn("frac", (F.col("total_c") * F.col("w")) % F.col("sumw"))
        .withColumn("rem", F.col("total_c") - F.sum("base").over(per_order))
        .withColumn("r", F.row_number().over(rank_w))
        .withColumn(
            "allocated_c",
            F.col("base") + F.when(F.col("r") <= F.col("rem"), 1).otherwise(0),
        )
    )
    mode = F.concat(F.lit("mode_"), (F.col("l_linenumber") % 4).cast("string"))
    return (
        alloc.groupBy(mode.alias("shipmode"))
        .agg(
            F.sum("allocated_c").alias("allocated_cents"),
            F.sum("w").alias("raw_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_PRORATION_SQL = oracle_bigint("""
WITH joined AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS w,
         (SELECT CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
          FROM orders o WHERE o.o_orderkey = l_orderkey) AS total_c
  FROM lineitem
), shares AS (
  SELECT l_orderkey, l_linenumber, w, total_c,
         SUM(w) OVER (PARTITION BY l_orderkey) AS sumw
  FROM joined
), based AS (
  SELECT *, (total_c * w) // sumw AS base, (total_c * w) % sumw AS frac
  FROM shares
), ranked AS (
  SELECT *,
         total_c - SUM(base) OVER (PARTITION BY l_orderkey) AS rem,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY frac DESC, l_linenumber) AS r
  FROM based
)
SELECT 'mode_' || CAST(l_linenumber % 4 AS VARCHAR) AS shipmode,
       SUM(base + CASE WHEN r <= rem THEN 1 ELSE 0 END) AS allocated_cents,
       SUM(w) AS raw_cents,
       COUNT(*) AS n_lines
FROM ranked
GROUP BY 1
""", "allocated_cents", "raw_cents")


ROUND6_QUERIES["abc_pareto_classification"] = (
    q_abc_pareto_classification,
    _ABC_SQL,
)
ROUND6_QUERIES["prorated_revenue_by_shipmode"] = (
    q_prorated_revenue_by_shipmode,
    _PRORATION_SQL,
)


# ---------------------------------------------------------------------------
# boilerplate_gram_report — cross-document template detection
# ---------------------------------------------------------------------------

_BP_MIN_DOCS = 5  # a 3-gram present in >= this many docs counts as boilerplate


def q_boilerplate_gram_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: a 3-gram that appears in
    >= 5 distinct documents is template text (nav chrome, license
    headers, scaffolding); each document scores the fraction of its
    DISTINCT grams that are boilerplate, averaged per source — the
    C4-style curation signal that intra-document repetition
    (`text_repetition_ratio`) cannot see.

    Scale: the doc->gram explode shuffles once on the gram hash to
    count document frequency (map-side combinable), joins back on the
    same key, and re-aggregates per doc then per source.  Per-doc
    ratios round to 9 into DECIMAL(38,9) before the source average —
    the order-independent float discipline.  Mirrors the shingle
    pipeline of `operators/dedup.py:101` (same tokenizer, so the
    oracle's split expression matches exactly).
    """
    from etl_portofolio_spark.operators.dedup import shingled_docs

    docs = load_table(spark, sf_dir, "documents")
    grams = (
        shingled_docs(docs, "doc_id", "text", k=3, extra_cols=("source",))
        .select("doc_id", "source", F.explode("sh_set").alias("g"))
        .select("doc_id", "source", F.md5("g").alias("gh"))
    )
    # NO scoped_persist of the gram frame, deliberately (measured
    # slower). The two consumers (df_counts, the join probe side) each
    # re-run the map-only tokenize+shingle+md5 scan into their own
    # exchange, which beats materializing a fact-scale gram cache
    # (cache write + codegen pipeline break cost more than the replay),
    # and is strictly safer at 100 TB where the cache would spill.
    df_counts = grams.groupBy("gh").agg(
        F.count(F.lit(1)).alias("n_docs_gram")  # rows are doc-distinct
    )
    per_doc = (
        grams.join(df_counts, "gh")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("tot"),
            F.sum(
                F.when(F.col("n_docs_gram") >= _BP_MIN_DOCS, 1).otherwise(0)
            ).alias("bp"),
        )
        .select(
            "source",
            F.round(
                F.col("bp").cast("double") / F.col("tot").cast("double"), 9
            )
            .cast("decimal(20,9)")
            .alias("ratio"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("ratio").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("avg_boilerplate_ratio"),
    )


_BOILERPLATE_SQL = f"""
WITH tok AS (
  SELECT doc_id, source,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM tok
), grams AS (
  SELECT doc_id, source, md5(g) AS gh
  FROM (SELECT doc_id, source, unnest(s) AS g FROM sh)
), df_counts AS (
  SELECT gh, COUNT(*) AS n_docs_gram FROM grams GROUP BY 1
), per_doc AS (
  SELECT g.doc_id, g.source,
         CAST(round(
           CAST(SUM(CASE WHEN d.n_docs_gram >= {_BP_MIN_DOCS} THEN 1 ELSE 0 END)
                AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE), 9) AS DECIMAL(20,9)) AS ratio
  FROM grams g JOIN df_counts d ON g.gh = d.gh
  GROUP BY 1, 2
)
SELECT source, COUNT(*) AS n_docs,
       round(CAST(SUM(ratio) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS avg_boilerplate_ratio
FROM per_doc
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# embedding_covariance_topk — centered covariance over leading dims
# ---------------------------------------------------------------------------

_COV_DIMS = 16  # leading dims profiled; d(d+1)/2 accumulators


def q_embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 strongest off-diagonal covariance entries among the
    leading 16 embedding dimensions — the feature-correlation profile
    a training pipeline reads before whitening or pruning dims.

    Two passes, both order-independent: per-dim means from
    DECIMAL(38,12) sums; then the centered cross-products (x_i - μ_i)
    (x_j - μ_j), rounded to 12 into DECIMAL(38,12), aggregated per dim
    pair.  The pair frame comes from a self-join of the exploded
    components ON vec_id — 16 rows per vector on each side, so the
    shuffle is 16x the vector count and the join never leaves the key.
    Covariances round to 6 BEFORE the top-k ordering (the established
    cross-engine ranking rule); k rows ride TakeOrderedAndProject.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id",
        F.posexplode(F.slice("embedding", 1, _COV_DIMS)).alias("dim", "xf"),
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("xf").cast("double"), 12)
        .cast("decimal(38,12)")
        .alias("x"),
    )
    from etl_portofolio_spark.caching import scoped_persist

    comps = scoped_persist(comps)
    means = comps.groupBy("dim").agg(
        (
            F.sum("x").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    a = comps.select(
        "vec_id", F.col("dim").alias("dim_a"), F.col("x").alias("xa")
    ).join(
        F.broadcast(
            means.select(F.col("dim").alias("dim_a"), F.col("mu").alias("mu_a"))
        ),
        "dim_a",
    )
    b = comps.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("dim").alias("dim_b"),
        F.col("x").alias("xb"),
    ).join(
        F.broadcast(
            means.select(
                F.col("dim").alias("dim_b"),
                F.col("mu").alias("mu_b"),
                F.col("n").alias("n"),
            )
        ),
        "dim_b",
    )
    prod = F.round(
        (F.col("xa").cast("double") - F.col("mu_a"))
        * (F.col("xb").cast("double") - F.col("mu_b")),
        12,
    ).cast("decimal(38,12)")
    pairs = (
        a.join(
            b,
            (F.col("dim_a") < F.col("dim_b"))
            & (F.col("vec_id") == F.col("vec_id_b")),
        )
        .groupBy("dim_a", "dim_b")
        .agg(
            F.round(
                F.sum(prod).cast("double") / F.max("n").cast("double"), 6
            ).alias("cov")
        )
    )
    return pairs.orderBy(
        F.abs(F.col("cov")).desc(), "dim_a", "dim_b"
    ).limit(10)


_COV_SQL = f"""
WITH comps AS (
  SELECT vec_id, i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE), 12) AS DECIMAL(38,12)) AS x
  FROM embeddings, LATERAL unnest(generate_series(1, {_COV_DIMS})) u(i)
), means AS (
  SELECT dim, CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
         count(*) AS n
  FROM comps GROUP BY 1
), pairs AS (
  SELECT a.dim AS dim_a, b.dim AS dim_b,
         round(CAST(SUM(CAST(round(
             (CAST(a.x AS DOUBLE) - ma.mu) * (CAST(b.x AS DOUBLE) - mb.mu),
           12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(MAX(mb.n) AS DOUBLE), 6)
           AS cov
  FROM comps a
  JOIN comps b ON a.vec_id = b.vec_id AND a.dim < b.dim
  JOIN means ma ON ma.dim = a.dim
  JOIN means mb ON mb.dim = b.dim
  GROUP BY 1, 2
)
SELECT dim_a, dim_b, cov FROM pairs
ORDER BY abs(cov) DESC, dim_a, dim_b
LIMIT 10
"""


ROUND6_QUERIES["boilerplate_gram_report"] = (
    q_boilerplate_gram_report,
    _BOILERPLATE_SQL,
)
ROUND6_QUERIES["embedding_covariance_topk"] = (
    q_embedding_covariance_topk,
    _COV_SQL,
)


# ---------------------------------------------------------------------------
# order_backlog_daily — sweep-line interval stabbing over the calendar
# ---------------------------------------------------------------------------


def q_order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog per day: an order is open from its order date
    until the last ship date of its line items; the series counts how
    many are open on each calendar day — the classic interval-stabbing
    question answered as a SWEEP, not a per-day interval join.

    Scale: each order contributes exactly two delta events (+1 open,
    -1 close), which aggregate by day to a CALENDAR-bounded frame
    (~2.5k rows) before the running sum — so the only ordered window
    runs on thousands of rows regardless of order count.  A naive
    day-x-interval join would be O(days x orders); this is one
    aggregation + one bounded cumulative.  Days where the order opens
    and closes share a date cancel to zero and still appear (backlog
    unchanged), keeping the spine dense over active days.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("start_d")
    )
    li = load_table(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("o_orderkey")
    ).agg(F.to_date(F.max("l_shipdate")).alias("end_d"))
    spans = orders.join(li, "o_orderkey")
    deltas = spans.select(
        F.col("start_d").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        spans.select(F.col("end_d").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("net"))
    from pyspark.sql import Window

    # calendar-bounded (~2.5k rows): a single ordered window is safe
    # here by the same argument as every per-day aggregate plan
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", F.sum("net").over(w).cast("long").alias("backlog")
    )


_BACKLOG_SQL = """
WITH spans AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS start_d,
         CAST(MAX(l.l_shipdate) AS DATE) AS end_d
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), deltas AS (
  SELECT start_d AS day, 1 AS delta FROM spans
  UNION ALL
  SELECT end_d AS day, -1 AS delta FROM spans
), daily AS (
  SELECT day, SUM(delta) AS net FROM deltas GROUP BY 1
)
SELECT day, CAST(SUM(net) OVER (ORDER BY day) AS BIGINT) AS backlog
FROM daily
"""


# ---------------------------------------------------------------------------
# time_weighted_value — duration-weighted average, the finance TWA
# ---------------------------------------------------------------------------


def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the events `value` stream per user
    cohort: each observation holds from its timestamp until the user's
    next event, so the average weights each value by how LONG it held —
    the finance/IoT semantics a row-weighted avg silently gets wrong.

    Integer end to end (the r6 version rounded value*dur to 9 decimals
    at |x|~1e7 — past the round(x,9) safety bound of 4.5e6, and the
    exact class of cross-engine last-digit drift this repo bans): the
    value snaps to exact integer cents at scan, the per-segment product
    cents x seconds is a BIGINT, and the final average emits as BIGINT
    ten-thousandths of a value unit via quotient/remainder long
    division — no doubles anywhere, so the hash is bit-deterministic.

    Scale: one window per user (lead over the user partition — maximal
    parallelism, no global sort); durations are integer epoch-second
    diffs.  Overflow headroom: the split `q*1e4 + (r*1e4) div d` form
    keeps every intermediate under 2^63 as long as a cohort's total
    seconds stay below 9.2e14 (≈29M years of per-user gaps), vs ~1e15
    cents-seconds for the naive `(s*1e4) div d`.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).alias("sec"),
        cents("value").alias("vc"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "vc")
    seg = ev.withColumn("nxt", F.lead("sec").over(w)).where(
        F.col("nxt").isNotNull()
    )
    weighted = seg.select(
        (F.col("user_id") % 20).alias("cohort"),
        (F.col("nxt") - F.col("sec")).alias("dur"),
        (F.col("vc") * (F.col("nxt") - F.col("sec"))).alias("vd_c"),
    )
    agg = weighted.groupBy("cohort").agg(
        F.sum("dur").alias("total_secs"),
        F.sum("vd_c").alias("svd"),
    )
    # exact cents/sec -> value*1e4 units: q*1e4 + floor(rem*1e4 / d);
    # svd, total_secs >= 0 so Spark `div` (truncate) == DuckDB `//` (floor)
    twa_e4 = F.expr(
        "(svd div total_secs) * 10000 "
        "+ ((svd % total_secs) * 10000) div total_secs"
    )
    return agg.select(
        "cohort", "total_secs", twa_e4.alias("twa_value_e4")
    )


_TWA_SQL = oracle_bigint("""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(round(value * 100, 0) AS BIGINT) AS vc
  FROM events
), seg AS (
  SELECT user_id, sec, vc,
         LEAD(sec) OVER (PARTITION BY user_id ORDER BY sec, vc) AS nxt
  FROM ev
), weighted AS (
  SELECT user_id % 20 AS cohort, nxt - sec AS dur,
         vc * (nxt - sec) AS vd_c
  FROM seg WHERE nxt IS NOT NULL
), agg AS (
  SELECT cohort, CAST(SUM(dur) AS BIGINT) AS total_secs,
         CAST(SUM(vd_c) AS BIGINT) AS svd
  FROM weighted GROUP BY 1
)
SELECT cohort, total_secs,
       (svd // total_secs) * 10000
         + ((svd % total_secs) * 10000) // total_secs AS twa_value_e4
FROM agg
""", "total_secs", "twa_value_e4")


# ---------------------------------------------------------------------------
# orderkey_gap_audit — islands/gaps over a key sequence, prebinned
# ---------------------------------------------------------------------------


def q_orderkey_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-completeness audit over the order-key space: how many
    gaps (runs of absent keys between consecutive present keys), how
    many keys are missing in total, and the largest single gap.  The
    sequence-sanity check every ingest pipeline runs on an id column.

    Scale discipline: consecutive-key pairs normally need one GLOBAL
    ordered window — here keys prebin into fixed-width buckets, the
    lead() window partitions BY BUCKET (parallel), and the only
    cross-bucket information is each bucket's (min, max), collected
    driver-side (O(#buckets), bounded by the key range / width).
    Boundary gaps between adjacent non-empty buckets are computed from
    that tiny list and unioned in as literal rows.  The oracle is the
    textbook global lead().
    """
    from pyspark.sql import Window

    keys = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    ).distinct()
    bucket_w = 10_000
    bk = keys.withColumn("b", F.floor(F.col("k") / F.lit(bucket_w)))
    w = Window.partitionBy("b").orderBy("k")
    inner = (
        bk.withColumn("nxt", F.lead("k").over(w))
        .where(F.col("nxt") > F.col("k") + 1)
        .select((F.col("nxt") - F.col("k") - 1).alias("gap_len"))
    )
    # cross-bucket boundaries: O(#buckets) rows, driver-side
    spans = sorted(
        (r["b"], r["lo"], r["hi"])
        for r in bk.groupBy("b")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    boundary = []
    for (_, _, hi_prev), (_, lo_next, _) in zip(spans, spans[1:]):
        if lo_next > hi_prev + 1:
            boundary.append((lo_next - hi_prev - 1,))
    gaps = inner
    if boundary:
        gaps = inner.unionAll(
            spark.createDataFrame(boundary, "gap_len long")
        )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.coalesce(F.sum("gap_len"), F.lit(0)).cast("long").alias(
            "missing_keys"
        ),
        F.coalesce(F.max("gap_len"), F.lit(0)).cast("long").alias(
            "max_gap"
        ),
    )


_GAP_SQL = """
WITH keys AS (
  SELECT DISTINCT o_orderkey AS k FROM orders
), gaps AS (
  SELECT LEAD(k) OVER (ORDER BY k) - k - 1 AS gap_len
  FROM keys
)
SELECT COUNT(*) AS n_gaps,
       CAST(COALESCE(SUM(gap_len), 0) AS BIGINT) AS missing_keys,
       CAST(COALESCE(MAX(gap_len), 0) AS BIGINT) AS max_gap
FROM gaps
WHERE gap_len > 0
"""


ROUND6_QUERIES["order_backlog_daily"] = (q_order_backlog_daily, _BACKLOG_SQL)
ROUND6_QUERIES["time_weighted_value"] = (q_time_weighted_value, _TWA_SQL)
ROUND6_QUERIES["orderkey_gap_audit"] = (q_orderkey_gap_audit, _GAP_SQL)


# ---------------------------------------------------------------------------
# bloom_pruned_lookup — needle-in-haystack equality via the Bloom sidecar
# ---------------------------------------------------------------------------


def q_bloom_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on an UNCLUSTERED layout served through the
    file-level Bloom index (`sources/bloomindex.py`) — the layout where
    zonemap envelopes all overlap and range skipping is useless.  The
    needle (the max event id — unique, deterministic) lives in exactly
    one of 8 hash-layout files; the Bloom sidecar prunes the rest
    (~1% false-positive keeps), asserted in-query via ``inputFiles()``.
    The oracle filters the source table: the index must be invisible
    in results.

    100 TB: the sidecar is O(#files) metadata; the lookup reads O(1)
    files regardless of table size — the Delta/ORC bloom_filter_columns
    contract from plain Spark + parquet.
    """
    from etl_portofolio_spark.sources.bloomindex import (
        _BLOOM_DIR,
        bloom_point_lookup,
        build_bloom_index,
    )
    from etl_portofolio_spark.sources.skipping import footer_zonemap

    def _ready(p: str) -> bool:
        return os.path.exists(
            os.path.join(p, "_SUCCESS")
        ) and os.path.isdir(os.path.join(p, _BLOOM_DIR, "event_id"))

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        ev.repartition(8).write.mode("overwrite").parquet(tmp)
        build_bloom_index(spark, tmp, "event_id")

    path = ensure_fixture(sf_dir, "events_hashed", _build, ready=_ready)
    # the max of a non-null bigint column, from footer stats (no job)
    needle = max(zmax for _, _, zmax, _ in footer_zonemap(path, "event_id"))
    df = bloom_point_lookup(spark, path, "event_id", needle)
    n_read = len(df.inputFiles())
    if not 0 < n_read < 8:
        raise AssertionError(
            f"bloom pruning regressed: read {n_read} of 8 files for a "
            "unique-key point lookup"
        )
    return df.select("event_id", "user_id", "value")


_BLOOM_LOOKUP_SQL = """
SELECT event_id, user_id, value
FROM events
WHERE event_id = (SELECT max(event_id) FROM events)
"""


ROUND6_QUERIES["bloom_pruned_lookup"] = (q_bloom_pruned_lookup, _BLOOM_LOOKUP_SQL)


# ---------------------------------------------------------------------------
# mv_rollup_rewrite — coarser aggregate answered from the materialized view
# ---------------------------------------------------------------------------


def q_mv_rollup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard rollup answered from a materialized view, never the
    fact table (`sinks/matview.py`): the MV stores
    (returnflag, linestatus, ship year) x (sum qty, sum price, rows);
    the query wants the coarser (returnflag, year) rollup, which
    re-aggregates from the MV — sum of sums, sum of counts.  The
    builder asserts the physical read touches ONLY MV files; the
    oracle computes the same rollup straight from lineitem, so the
    rewrite must be value-identical (integer measures — exact).

    100 TB: the fact table is scanned once at MV build; every rewrite
    after that reads a few thousand MV rows.  Avg-style measures are
    rejected at CREATE time (not re-aggregable) — the containment
    rules live in `answer_from_mv`.
    """
    from etl_portofolio_spark.sinks.matview import (
        answer_from_mv,
        create_rollup_mv,
        load_mv_meta,
    )

    def _build(tmp: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").withColumn(
            "ship_year", F.year("l_shipdate").cast("long")
        )
        create_rollup_mv(
            spark,
            li,
            tmp,
            dims=("l_returnflag", "l_linestatus", "ship_year"),
            measures={
                "qty_c": ("sum", "CAST(round(l_quantity * 100, 0) AS BIGINT)"),
                "price_c": (
                    "sum",
                    "CAST(round(l_extendedprice * 100, 0) AS BIGINT)",
                ),
                "n_rows": ("count", "*"),
            },
        )

    path = ensure_fixture(
        sf_dir,
        "mv_lineitem",
        _build,
        ready=lambda p: load_mv_meta(p) is not None,
    )
    df = answer_from_mv(
        spark, path, dims=("l_returnflag", "ship_year"),
        measures=("qty_c", "price_c", "n_rows"),
    )
    bad = [f for f in df.inputFiles() if "mv_lineitem" not in f]
    if bad:
        raise AssertionError(f"MV rewrite leaked to non-MV files: {bad[:3]}")
    # freshness audit (same contract as the WAP store): one exact
    # aggregate of the MV vs a recompute from the fact table — an MV
    # that diverged from its definition raises instead of answering
    mv_rows = df.agg(F.sum("n_rows")).first()[0]
    true_rows = load_table(spark, sf_dir, "lineitem").count()
    if mv_rows != true_rows:
        raise AssertionError(
            f"mv_lineitem is stale: MV row tally {mv_rows} != fact rows "
            f"{true_rows} — rebuild the fixture instead of serving drift"
        )
    return df


_MV_SQL = oracle_bigint("""
SELECT l_returnflag, EXTRACT(year FROM l_shipdate) AS ship_year,
       SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS qty_c,
       SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS price_c,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY 1, 2
""", "qty_c", "price_c")


ROUND6_QUERIES["mv_rollup_rewrite"] = (q_mv_rollup_rewrite, _MV_SQL)


# ---------------------------------------------------------------------------
# rolling_median_revenue — exact 7-day rolling median, array-window form
# ---------------------------------------------------------------------------


def q_rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling MEDIAN of daily revenue — the robust
    smoother a rolling mean isn't (one double-ingested day wrecks the
    mean for a week; it barely moves the median).

    Exactness without a percentile UDAF: the window is only ever 7
    elements, so each day's trailing values collect into a bounded
    array (collect_list over a rows-window), sort JVM-side, and index
    the middle — integer cents in, integer cents out, bit-identical in
    both engines.  The frame under the window is the DAY-level
    aggregate (calendar-bounded), never fact rows, and the array work
    is whole-stage-codegen built-ins.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("rev_c")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    vals = F.array_sort(F.collect_list("rev_c").over(w))
    n = F.size(vals)
    med = F.element_at(vals, (n / 2 + 1).cast("int"))
    return daily.select(
        "day",
        "rev_c",
        n.cast("long").alias("n_days"),
        med.alias("rolling_median_c"),
    )


_ROLLMED_SQL = oracle_bigint("""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1
), arr AS (
  SELECT day, rev_c,
         list_sort(list(rev_c) OVER
           (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS vals
  FROM daily
)
SELECT day, rev_c,
       CAST(len(vals) AS BIGINT) AS n_days,
       vals[CAST(len(vals) // 2 + 1 AS INT)] AS rolling_median_c
FROM arr
""", "rev_c", "rolling_median_c")


# ---------------------------------------------------------------------------
# purchase_gap_median — exact grouped median over bounded per-key arrays
# ---------------------------------------------------------------------------


def q_purchase_gap_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median days between consecutive orders, per customer segment —
    the repeat-purchase cadence metric.  Per-customer gaps come from a
    lag window PARTITIONED BY customer (parallel, no global sort);
    each segment's exact median indexes the sorted gap array.  Median
    semantics are pinned explicitly (lower-middle element, 1-based
    ``n//2 + 1``) because engine median() builtins disagree on
    interpolation — the array form is bit-identical everywhere.

    Scale note: the per-SEGMENT array is the one bounded collect in
    the plan (20 segments); if segments were high-cardinality this
    would switch to the prebin rank decomposition
    (`equi_depth_exact_scalable`) — documented tradeoff.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day")
    )
    w = Window.partitionBy("o_custkey").orderBy("day")
    gaps = (
        orders.withColumn("prev", F.lag("day").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            (F.col("o_custkey") % 20).alias("segment"),
            F.datediff("day", "prev").alias("gap_days"),
        )
    )
    arr = gaps.groupBy("segment").agg(
        F.array_sort(F.collect_list("gap_days")).alias("vals"),
        F.count(F.lit(1)).alias("n_gaps"),
    )
    return arr.select(
        "segment",
        "n_gaps",
        F.element_at(
            "vals", (F.size("vals") / 2 + 1).cast("int")
        ).cast("long").alias("median_gap_days"),
    )


_GAPMED_SQL = """
WITH gaps AS (
  SELECT o_custkey % 20 AS segment,
         datediff('day',
           LAG(CAST(o_orderdate AS DATE))
             OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)),
           CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
), arr AS (
  SELECT segment, list_sort(list(gap_days)) AS vals, COUNT(*) AS n_gaps
  FROM gaps WHERE gap_days IS NOT NULL
  GROUP BY 1
)
SELECT segment, n_gaps,
       CAST(vals[CAST(len(vals) // 2 + 1 AS INT)] AS BIGINT)
         AS median_gap_days
FROM arr
"""


# ---------------------------------------------------------------------------
# dp_noisy_priority_counts — seeded-deterministic Laplace release
# ---------------------------------------------------------------------------

_DP_EPSILON = 0.5  # per-count privacy budget; sensitivity 1 (count query)


def q_dp_noisy_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of order counts per priority:
    Laplace(1/ε) noise via inverse-CDF over a uniform derived from an
    md5 of the group key — SEEDED, so the release is reproducible
    (the audit property a production DP pipeline needs: same data +
    same seed → same release) and oracle-checkable.

    u ∈ (0,1) comes from the first 12 hex digits of
    md5(key || seed); noise = -(1/ε)·sign(u-½)·ln(1-2|u-½|), with the
    ln() rounded to 6 BEFORE use (the transcendental cross-engine
    rule).  Counts are exact pre-noise; the noisy value rounds to 4.
    Scale: pure map-side math over an already-aggregated frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(F.count(F.lit(1)).alias("true_n"))
    seeded = F.md5(F.concat(F.col("priority"), F.lit("|dp-seed-1")))
    u = (
        F.conv(F.substring(seeded, 1, 12), 16, 10).cast("double")
        / F.lit(float(16**12))
    )
    centered = u - F.lit(0.5)
    mag = F.round(
        F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered)), 6
    )
    noise = F.round(
        -F.lit(1.0 / _DP_EPSILON) * F.signum(centered) * mag, 4
    )
    return counts.select(
        "priority",
        "true_n",
        noise.alias("noise"),
        F.round(F.col("true_n") + noise, 4).alias("released_n"),
    )


_DP_SQL = f"""
WITH counts AS (
  SELECT o_orderpriority AS priority, COUNT(*) AS true_n
  FROM orders GROUP BY 1
), seeded AS (
  SELECT priority, true_n,
         CAST('0x' || substr(md5(priority || '|dp-seed-1'), 1, 12) AS BIGINT)
           / CAST(16.0 ** 12 AS DOUBLE) AS u
  FROM counts
), noisy AS (
  SELECT priority, true_n,
         round(-{1.0 / _DP_EPSILON} * sign(u - 0.5)
               * round(ln(1.0 - 2.0 * abs(u - 0.5)), 6), 4) AS noise
  FROM seeded
)
SELECT priority, true_n, noise, round(true_n + noise, 4) AS released_n
FROM noisy
"""


# ---------------------------------------------------------------------------
# masked_customer_export — policy-driven column masking for data sharing
# ---------------------------------------------------------------------------


def q_masked_customer_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governed export of the customer table: direct identifiers
    pseudonymize (md5 with a salt — stable joins stay possible,
    re-identification doesn't), quasi-identifiers generalize (balance
    → $1k band, nation kept), and the policy is the SELECT — no row
    ever leaves unmasked.  Deterministic by construction, so the
    masked export is reproducible and oracle-checkable.
    """
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.md5(F.concat(F.col("c_name"), F.lit("|mask-salt-1"))).alias(
            "name_token"
        ),
        F.col("c_nationkey").alias("nationkey"),
        (F.floor(F.col("c_acctbal") / 1000) * 1000)
        .cast("long")
        .alias("acctbal_band"),
    )


_MASKED_SQL = """
SELECT md5(c_name || '|mask-salt-1') AS name_token,
       c_nationkey AS nationkey,
       CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_band
FROM customer
"""


ROUND6_QUERIES["rolling_median_revenue"] = (
    q_rolling_median_revenue,
    _ROLLMED_SQL,
)
ROUND6_QUERIES["purchase_gap_median"] = (q_purchase_gap_median, _GAPMED_SQL)
ROUND6_QUERIES["dp_noisy_priority_counts"] = (
    q_dp_noisy_priority_counts,
    _DP_SQL,
)
ROUND6_QUERIES["masked_customer_export"] = (
    q_masked_customer_export,
    _MASKED_SQL,
)


# ---------------------------------------------------------------------------
# ab_test_cuped_lift — variance-reduced experiment readout
# ---------------------------------------------------------------------------


def q_ab_test_cuped_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with CUPED variance reduction: treatment
    is a deterministic user split, the metric Y is 1997 revenue, the
    covariate X is the user's PRE-period (1996) revenue, and
    θ = cov(X,Y)/var(X) adjusts the lift:
    lift_cuped = (ȳ₁-ȳ₀) - θ·(x̄₁-x̄₀).  The standard trick that cuts
    experiment variance by whatever X explains.

    Everything reduces to GROUP-LEVEL integer sums (Σx, Σy, Σxy, Σx²
    in DECIMAL(38,0) — cents×cents stays < 2^63 per row, the decimal
    accumulator makes the total order-independent), so θ and both
    lifts are a handful of double ops on eight scalars — one
    aggregation pass over the user frame, no per-row doubles anywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    per_user = orders.groupBy(F.col("o_custkey").alias("u")).agg(
        F.sum(
            F.when(yr == 1996, cents("o_totalprice")).otherwise(F.lit(0))
        ).alias("x"),
        F.sum(
            F.when(yr == 1997, cents("o_totalprice")).otherwise(F.lit(0))
        ).alias("y"),
    )
    g = per_user.select(
        (F.col("u") % 2).alias("t"),
        "x",
        "y",
        (F.col("x") * F.col("y")).cast("decimal(38,0)").alias("xy"),
        (F.col("x") * F.col("x")).cast("decimal(38,0)").alias("xx"),
    )
    sums = g.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
    )
    rows = {r["t"]: r for r in sums.collect()}
    n0, n1 = rows[0]["n"], rows[1]["n"]
    n = n0 + n1
    sx = float(rows[0]["sx"] + rows[1]["sx"])
    sy = float(rows[0]["sy"] + rows[1]["sy"])
    sxy = float(rows[0]["sxy"] + rows[1]["sxy"])
    sxx = float(rows[0]["sxx"] + rows[1]["sxx"])
    mean_x, mean_y = sx / n, sy / n
    theta = _round_half_up(
        (sxy / n - mean_x * mean_y) / (sxx / n - mean_x * mean_x), 6
    )
    lift_raw = _round_half_up(
        float(rows[1]["sy"]) / n1 - float(rows[0]["sy"]) / n0, 4
    )
    lift_cuped = _round_half_up(
        lift_raw
        - theta * (float(rows[1]["sx"]) / n1 - float(rows[0]["sx"]) / n0),
        4,
    )
    return spark.range(1).select(
        F.lit(n).cast("long").alias("n_users"),
        F.lit(theta).alias("theta"),
        F.lit(lift_raw).alias("lift_raw_c"),
        F.lit(lift_cuped).alias("lift_cuped_c"),
    )


_CUPED_SQL = """
WITH per_user AS (
  SELECT o_custkey AS u,
         SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
             THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) ELSE 0 END) AS x,
         SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
             THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) ELSE 0 END) AS y
  FROM orders GROUP BY 1
), sums AS (
  SELECT u % 2 AS t, COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx
  FROM per_user GROUP BY 1
), tot AS (
  SELECT SUM(n) AS n,
         CAST(SUM(sx) AS DOUBLE) AS sx, CAST(SUM(sy) AS DOUBLE) AS sy,
         CAST(SUM(sxy) AS DOUBLE) AS sxy, CAST(SUM(sxx) AS DOUBLE) AS sxx
  FROM sums
), th AS (
  SELECT n,
         round((sxy / n - (sx / n) * (sy / n))
               / (sxx / n - (sx / n) * (sx / n)), 6) AS theta
  FROM tot
), lifts AS (
  SELECT th.n, th.theta,
         round(CAST(s1.sy AS DOUBLE) / s1.n - CAST(s0.sy AS DOUBLE) / s0.n, 4)
           AS lift_raw,
         CAST(s1.sx AS DOUBLE) / s1.n - CAST(s0.sx AS DOUBLE) / s0.n AS dx
  FROM th, (SELECT * FROM sums WHERE t = 0) s0, (SELECT * FROM sums WHERE t = 1) s1
)
SELECT CAST(n AS BIGINT) AS n_users, theta,
       lift_raw AS lift_raw_c,
       round(lift_raw - theta * dx, 4) AS lift_cuped_c
FROM lifts
"""


# ---------------------------------------------------------------------------
# conversion_rate_ztest — two-proportion inference per cohort
# ---------------------------------------------------------------------------


def q_conversion_rate_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on EVENT-level view->click conversion (a
    view converts when the same user clicks within 24h) between the
    two deterministic user cohorts — the significance readout every
    funnel dashboard puts next to the conversion delta.  Event-level
    (not user-level) because a long-lived user eventually does
    everything: the user-level rate saturates at 1.0 and the test
    degenerates.

    The converted-view set is a LEFT SEMI join keyed on the user with
    the 24h range as residual (fan-out bounded by events-per-user —
    never a time cross join); the z statistic uses sqrt
    (correctly-rounded IEEE — cross-engine safe, unlike ln/exp) over
    exact integer counts, rounded to 6.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", (F.col("user_id") % 2).alias("cohort")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    converted = v.join(
        c,
        (F.col("user_id") == F.col("cu"))
        & (F.col("cts") > F.col("ts"))
        & (F.col("cts") <= F.col("ts") + F.expr("INTERVAL 24 HOURS")),
        "left_semi",
    )
    totals = {r["cohort"]: r["n"] for r in
              v.groupBy("cohort").agg(F.count(F.lit(1)).alias("n")).collect()}
    convs = {r["cohort"]: r["n"] for r in
             converted.groupBy("cohort").agg(F.count(F.lit(1)).alias("n")).collect()}
    n0, c0 = totals[0], convs.get(0, 0)
    n1, c1 = totals[1], convs.get(1, 0)
    p = (c0 + c1) / (n0 + n1)
    import math

    z = _round_half_up(
        (c1 / n1 - c0 / n0) / math.sqrt(p * (1 - p) * (1.0 / n0 + 1.0 / n1)), 6
    )
    return spark.range(1).select(
        F.lit(n0).cast("long").alias("n0"),
        F.lit(c0).cast("long").alias("c0"),
        F.lit(n1).cast("long").alias("n1"),
        F.lit(c1).cast("long").alias("c1"),
        F.lit(z).alias("z_score"),
    )


_ZTEST_SQL = """
WITH v AS (
  SELECT user_id, ts, user_id % 2 AS cohort FROM events
  WHERE event_type = 'view'
), c AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
), flagged AS (
  SELECT v.cohort,
         CASE WHEN EXISTS (
           SELECT 1 FROM c
           WHERE c.user_id = v.user_id AND c.ts > v.ts
             AND c.ts <= v.ts + INTERVAL 24 HOUR) THEN 1 ELSE 0 END AS conv
  FROM v
), counts AS (
  SELECT cohort, COUNT(*) AS n, SUM(conv) AS c FROM flagged GROUP BY 1
), w AS (
  SELECT
    (SELECT n FROM counts WHERE cohort = 0) AS n0,
    (SELECT c FROM counts WHERE cohort = 0) AS c0,
    (SELECT n FROM counts WHERE cohort = 1) AS n1,
    (SELECT c FROM counts WHERE cohort = 1) AS c1
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
       CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
       round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 6) AS z_score
FROM w
"""

# ---------------------------------------------------------------------------
# brand_basket_lift — association rules over co-purchase baskets
# ---------------------------------------------------------------------------


def q_brand_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics for brand pairs: support, confidence
    and lift over order baskets — the market-basket readout on top of
    the co-purchase edge list.  Pairs come only from a keyed self-join
    on the order (fan-out bounded by brands-per-basket, never
    all-pairs); brand totals broadcast.  Top 20 by lift with the pair
    as tie-break; ratios from exact integer counts, rounded to 6
    before ranking.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    from etl_portofolio_spark.caching import scoped_persist

    baskets = scoped_persist(baskets)
    n_baskets = baskets.select("l_orderkey").distinct().count()
    totals = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("cnt"))
    a = baskets.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("brand_b"))
    co = (
        a.join(b, "l_orderkey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    ta = totals.select(F.col("p_brand").alias("brand_a"), F.col("cnt").alias("ca"))
    tb = totals.select(F.col("p_brand").alias("brand_b"), F.col("cnt").alias("cb"))
    scored = (
        co.join(F.broadcast(ta), "brand_a")
        .join(F.broadcast(tb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "co",
            F.round(F.col("co") / F.lit(float(n_baskets)), 6).alias("support"),
            F.round(F.col("co") / F.col("ca").cast("double"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("co").cast("double")
                * F.lit(float(n_baskets))
                / (F.col("ca").cast("double") * F.col("cb").cast("double")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), "brand_a", "brand_b"
    ).limit(20)


_BASKET_LIFT_SQL = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), n AS (
  SELECT COUNT(DISTINCT l_orderkey) AS nb FROM baskets
), totals AS (
  SELECT p_brand, COUNT(*) AS cnt FROM baskets GROUP BY 1
), co AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS co
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, co,
       round(co / CAST(n.nb AS DOUBLE), 6) AS support,
       round(co / CAST(ta.cnt AS DOUBLE), 6) AS confidence,
       round(CAST(co AS DOUBLE) * n.nb / (CAST(ta.cnt AS DOUBLE) * tb.cnt), 6)
         AS lift
FROM co, n
JOIN totals ta ON ta.p_brand = co.brand_a
JOIN totals tb ON tb.p_brand = co.brand_b
ORDER BY lift DESC, brand_a, brand_b
LIMIT 20
"""


# ---------------------------------------------------------------------------
# bootstrap_mean_ci — deterministic (seeded) bootstrap at scale
# ---------------------------------------------------------------------------

_BOOT_B = 100  # bootstrap replicas


def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean daily revenue with a
    SEEDED resampler: replica b's i-th draw indexes day
    h32(b || i) % n — fully deterministic, so the CI is reproducible
    run-over-run and oracle-checkable (the reproducibility bar a
    production experimentation platform sets; np.random could never
    pass a cross-engine hash gate).

    Scale: resampling happens at the DAY level (calendar-bounded, the
    frame a 100 TB fact aggregates down to), replicas explode from a
    B-row range (no cross join), each replica's mean is a
    DECIMAL(38,0)-summed group, and the percentile envelope indexes
    the sorted B-element array.
    """
    from pyspark.sql import Window

    from etl_portofolio_spark.functions.hashing import h32

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("rev_c")
    )
    # calendar-bounded index assignment (same bounded-window argument
    # as every per-day frame)
    idx_w = Window.orderBy("day")
    indexed = daily.select(
        F.row_number().over(idx_w).alias("i"), "rev_c"
    )
    from etl_portofolio_spark.caching import scoped_persist

    indexed = scoped_persist(indexed)
    n_days = indexed.count()
    draws = (
        spark.range(_BOOT_B)
        .select(F.col("id").alias("b"))
        .select(
            "b",
            F.explode(F.sequence(F.lit(1), F.lit(n_days))).alias("slot"),
        )
        .select(
            "b",
            (
                h32(F.concat_ws("|", F.col("b"), F.col("slot")))
                % F.lit(n_days)
                + F.lit(1)
            ).alias("i"),
        )
    )
    means = (
        draws.join(indexed, "i")
        .groupBy("b")
        .agg(
            F.round(
                F.sum(F.col("rev_c").cast("decimal(38,0)")).cast("double")
                / F.lit(float(n_days)),
                4,
            ).alias("m")
        )
    )
    arr = means.agg(F.array_sort(F.collect_list("m")).alias("ms"))
    lo_i = int(_BOOT_B * 0.025)  # 0-based floor index -> element 3 (1-based)
    hi_i = int(_BOOT_B * 0.975)
    return arr.select(
        F.lit(n_days).cast("long").alias("n_days"),
        F.element_at("ms", lo_i + 1).alias("ci_lo_c"),
        F.element_at("ms", hi_i + 1).alias("ci_hi_c"),
    )


_BOOTSTRAP_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1
), indexed AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, rev_c FROM daily
), nd AS (
  SELECT COUNT(*) AS n FROM indexed
), draws AS (
  SELECT b.b, CAST('0x' || substr(md5(b.b || '|' || s.slot), 1, 8) AS BIGINT)
              % (SELECT n FROM nd) + 1 AS i
  FROM generate_series(0, {_BOOT_B - 1}) b(b),
       LATERAL (SELECT unnest(generate_series(1, (SELECT n FROM nd))) AS slot) s
), means AS (
  SELECT b, round(CAST(SUM(CAST(rev_c AS DECIMAL(38,0))) AS DOUBLE)
                  / (SELECT n FROM nd), 4) AS m
  FROM draws JOIN indexed USING (i)
  GROUP BY b
), arr AS (
  SELECT list_sort(list(m)) AS ms FROM means
)
SELECT (SELECT CAST(n AS BIGINT) FROM nd) AS n_days,
       ms[{int(_BOOT_B * 0.025) + 1}] AS ci_lo_c,
       ms[{int(_BOOT_B * 0.975) + 1}] AS ci_hi_c
FROM arr
"""


ROUND6_QUERIES["ab_test_cuped_lift"] = (q_ab_test_cuped_lift, _CUPED_SQL)
ROUND6_QUERIES["conversion_rate_ztest"] = (q_conversion_rate_ztest, _ZTEST_SQL)
ROUND6_QUERIES["brand_basket_lift"] = (q_brand_basket_lift, _BASKET_LIFT_SQL)
ROUND6_QUERIES["bootstrap_mean_ci"] = (q_bootstrap_mean_ci, _BOOTSTRAP_SQL)


# ---------------------------------------------------------------------------
# ewma_daily_revenue — dyadic-exact exponential smoothing
# ---------------------------------------------------------------------------

_EWMA_HORIZON = 40  # 0.5^40 ~ 1e-12: beyond double significance vs the level


def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue with
    α = 1/2 — the smoothing constant chosen so every weight 0.5^i is a
    POWER OF TWO: pow(0.5, int) is exact in IEEE doubles, which makes
    the whole smoother bit-deterministic cross-engine without any
    transcendental rounding (a generic α would route through exp/ln).

    The recurrence unrolls to a 40-day trailing weighted sum (0.5^40
    ≈ 1e-12 — below double significance against the level), expressed
    as a day-keyed range self-join over the CALENDAR-bounded daily
    frame: O(days × 40) rows total, never fact rows.  Weighted terms
    round to 6 into DECIMAL(38,6) before summing (order-independent).
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("rev_c")
    )
    from etl_portofolio_spark.caching import scoped_persist

    daily = scoped_persist(daily)
    a = daily.select(F.col("day").alias("d"), F.col("rev_c").alias("x"))
    b = daily.select(F.col("day").alias("day"))
    lag = F.datediff(F.col("day"), F.col("d"))
    terms = (
        b.join(
            a,
            (F.col("d") <= F.col("day"))
            & (F.col("d") > F.date_sub(F.col("day"), _EWMA_HORIZON)),
        )
        .select(
            "day",
            F.round(
                F.pow(F.lit(0.5), (lag + 1).cast("double"))
                * F.col("x").cast("double"),
                6,
            )
            .cast("decimal(38,6)")
            .alias("t"),
        )
    )
    # the sum of 6-decimal terms is EXACT in DECIMAL(38,6); emit its
    # double image directly — a further round(x, 4) would hit exact
    # trailing-5 boundaries where engine round() implementations
    # disagree (BigDecimal shortest-repr HALF_UP vs binary nearbyint)
    return terms.groupBy("day").agg(
        F.sum("t").cast("double").alias("ewma_c")
    )


_EWMA_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1
), terms AS (
  SELECT b.day,
         CAST(round(pow(0.5, CAST(datediff('day', a.day, b.day) + 1 AS DOUBLE))
                    * CAST(a.rev_c AS DOUBLE), 6) AS DECIMAL(38,6)) AS t
  FROM daily b JOIN daily a
    ON a.day <= b.day AND a.day > b.day - INTERVAL {_EWMA_HORIZON} DAY
)
SELECT day, CAST(SUM(t) AS DOUBLE) AS ewma_c
FROM terms GROUP BY day
"""


# ---------------------------------------------------------------------------
# brand_rank_kendall_tau — rank-stability between periods
# ---------------------------------------------------------------------------


def q_brand_rank_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ between the 1996 and 1997 brand revenue rankings —
    "did the leaderboard actually move?"  Exact over all brand pairs:
    concordant minus discordant over n(n-1)/2, with revenue-cents as
    the ranking key (ties broken by brand for determinism, counted as
    neither concordant nor discordant when either year ties exactly).

    The pair frame is |brands|² — DOMAIN-bounded (25 brands → 300
    pairs), not data-bounded, joined from one aggregate of the fact
    table; the τ division happens once on two integers.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    yearly = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.when(
                    F.year("l_shipdate") == 1996, cents("l_extendedprice")
                ).otherwise(F.lit(0))
            ).alias("r96"),
            F.sum(
                F.when(
                    F.year("l_shipdate") == 1997, cents("l_extendedprice")
                ).otherwise(F.lit(0))
            ).alias("r97"),
        )
    )
    a = yearly.select(
        F.col("p_brand").alias("ba"), F.col("r96").alias("a96"),
        F.col("r97").alias("a97"),
    )
    b = yearly.select(
        F.col("p_brand").alias("bb"), F.col("r96").alias("b96"),
        F.col("r97").alias("b97"),
    )
    pairs = a.join(b, F.col("ba") < F.col("bb"))
    concordant = (
        ((F.col("a96") > F.col("b96")) & (F.col("a97") > F.col("b97")))
        | ((F.col("a96") < F.col("b96")) & (F.col("a97") < F.col("b97")))
    ).cast("long")
    discordant = (
        ((F.col("a96") > F.col("b96")) & (F.col("a97") < F.col("b97")))
        | ((F.col("a96") < F.col("b96")) & (F.col("a97") > F.col("b97")))
    ).cast("long")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(concordant).alias("concordant"),
        F.sum(discordant).alias("discordant"),
        F.round(
            (F.sum(concordant) - F.sum(discordant)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("kendall_tau"),
    )


_KENDALL_SQL = oracle_bigint("""
WITH yearly AS (
  SELECT p_brand,
         SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = 1996
             THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
             ELSE 0 END) AS r96,
         SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = 1997
             THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
             ELSE 0 END) AS r97
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1
), pairs AS (
  SELECT CASE WHEN (a.r96 > b.r96 AND a.r97 > b.r97)
                OR (a.r96 < b.r96 AND a.r97 < b.r97) THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.r96 > b.r96 AND a.r97 < b.r97)
                OR (a.r96 < b.r96 AND a.r97 > b.r97) THEN 1 ELSE 0 END AS disc
  FROM yearly a JOIN yearly b ON a.p_brand < b.p_brand
)
SELECT COUNT(*) AS n_pairs,
       SUM(conc) AS concordant,
       SUM(disc) AS discordant,
       round(CAST(SUM(conc) - SUM(disc) AS DOUBLE) / COUNT(*), 6)
         AS kendall_tau
FROM pairs
""", "concordant", "discordant")


# ---------------------------------------------------------------------------
# weighted_median_price — the histogram-descent selection, weighted
# ---------------------------------------------------------------------------


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median of the line-item unit price: the value
    v where cumulative QUANTITY (not row count) crosses half the total
    — what "the median unit actually sold at" means when line items
    carry different volumes.

    Selection reuses the theilsen discipline: no global sort; a coarse
    weighted histogram locates the target bin and the in-bin rank, a
    fine histogram narrows it, and only a tiny ordered tail executes.
    Unit price is exact integer cents (extended/quantity rounds to
    cents per unit at the row level); weights are integer quantity.
    The upper-weighted-median convention (first value whose cumulative
    weight >= ceil((W+1)/2)) is pinned in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(
            F.col("l_extendedprice") / F.col("l_quantity"), 2
        ).alias("unit_p"),
        F.col("l_quantity").cast("long").alias("w"),
    ).select(
        (F.col("unit_p") * 100).cast("long").alias("p_c"), "w"
    )
    from etl_portofolio_spark.caching import scoped_persist

    li = scoped_persist(li)
    total_w = li.agg(F.sum("w")).first()[0]
    k = (total_w + 1) // 2 + ((total_w + 1) % 2 > 0)  # ceil((W+1)/2)

    def _descend(df, width: int, k: int) -> tuple[int, int]:
        hist = sorted(
            (r["b"], r["wsum"])
            for r in df.groupBy(
                F.floor(F.col("p_c") / F.lit(width)).cast("long").alias("b")
            )
            .agg(F.sum("w").alias("wsum"))
            .collect()
        )
        run = 0
        for bb, ws in hist:
            if run + ws >= k:
                return bb, k - run
            run += ws
        raise AssertionError("weighted rank exceeds histogram mass")

    b1, k1 = _descend(li, 100_000, k)
    in_b1 = li.where(
        F.floor(F.col("p_c") / F.lit(100_000)).cast("long") == F.lit(b1)
    )
    b2, k2 = _descend(in_b1, 100, k1)
    tail = (
        in_b1.where(
            F.floor(F.col("p_c") / F.lit(100)).cast("long") == F.lit(b2)
        )
        .groupBy("p_c")
        .agg(F.sum("w").alias("ws"))
        .orderBy("p_c")
        .collect()
    )
    run = 0
    median_c = None
    for r in tail:
        run += r["ws"]
        if run >= k2:
            median_c = r["p_c"]
            break
    return spark.range(1).select(
        F.lit(total_w).cast("long").alias("total_qty"),
        F.lit(median_c).cast("long").alias("weighted_median_price_c"),
    )


_WMEDIAN_SQL = """
WITH rows_w AS (
  SELECT CAST(round(l_extendedprice / l_quantity, 2) * 100 AS BIGINT) AS p_c,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
), tot AS (
  SELECT SUM(w) AS total_w FROM rows_w
), ranked AS (
  SELECT p_c, SUM(w) AS ws FROM rows_w GROUP BY 1
), cum AS (
  SELECT p_c, SUM(ws) OVER (ORDER BY p_c) AS cw FROM ranked
)
SELECT (SELECT CAST(total_w AS BIGINT) FROM tot) AS total_qty,
       CAST(MIN(p_c) AS BIGINT) AS weighted_median_price_c
FROM cum
WHERE cw >= (SELECT CAST(ceil((total_w + 1) / 2.0) AS BIGINT) FROM tot)
"""


ROUND6_QUERIES["ewma_daily_revenue"] = (q_ewma_daily_revenue, _EWMA_SQL)
ROUND6_QUERIES["brand_rank_kendall_tau"] = (
    q_brand_rank_kendall_tau,
    _KENDALL_SQL,
)
ROUND6_QUERIES["weighted_median_price"] = (
    q_weighted_median_price,
    _WMEDIAN_SQL,
)


# ---------------------------------------------------------------------------
# sql_udf_revenue_report — the SQL-function surface, end to end
# ---------------------------------------------------------------------------


def q_sql_udf_revenue_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue report written ENTIRELY in SQL against the
    engine's SQL UDF library (`functions/sqludf.py`): cents() exact
    money, ds_of() date derivation, h32() bucketing — the SQL-first
    face of the same deterministic kernel the Column API uses.

    SQL UDFs are macros: they inline at analysis time, so this plan is
    byte-equivalent to the hand-written expression plan (asserted in
    tests — no Python evaluator node, codegen intact).  The oracle
    inlines the same expressions in DuckDB SQL.
    """
    from etl_portofolio_spark.functions.sqludf import register_sql_functions

    register_sql_functions(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_sqludf"
    )
    return spark.sql(
        """
        SELECT ds_of(o_orderdate) AS ds,
               SUM(cents(o_totalprice)) AS revenue_cents,
               COUNT(*) AS n_orders,
               SUM(CASE WHEN h32(CAST(o_custkey AS STRING)) % 100 < 10
                   THEN cents(o_totalprice) ELSE 0 END) AS sampled_cents
        FROM orders_sqludf
        GROUP BY ds_of(o_orderdate)
        """
    )


_SQL_UDF_SQL = oracle_bigint("""
SELECT strftime(o_orderdate, '%Y%m%d') AS ds,
       SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS revenue_cents,
       COUNT(*) AS n_orders,
       SUM(CASE WHEN CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)
                     AS BIGINT) % 100 < 10
           THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) ELSE 0 END)
         AS sampled_cents
FROM orders
GROUP BY 1
""", "revenue_cents", "sampled_cents")


ROUND6_QUERIES["sql_udf_revenue_report"] = (
    q_sql_udf_revenue_report,
    _SQL_UDF_SQL,
)


# ---------------------------------------------------------------------------
# xml_roundtrip_ingest — Spark 4 native from_xml on the reference's shape
# ---------------------------------------------------------------------------


def q_xml_roundtrip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-native XML decode (Spark 4 ``from_xml``) over the
    reference's payload shape (`Ingestion Data (XML).py`: per-record
    <item> documents with typed fields): each event renders to an XML
    document, parses back through a declared schema, and the parsed
    fields aggregate per event type.  The oracle computes from the
    source columns directly — the decode must be a lossless identity,
    which pins from_xml's type coercion (string→bigint/double) against
    both the generator and DuckDB.

    Scale: fully map-side (render + parse + partial agg in one codegen
    stage, no Python crossing) — the JVM-native alternative to the
    executor-side Python XML parser in `sources/http_xml.py`, for
    payloads already in a column.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "user_id"
    )
    xml = F.concat(
        F.lit("<item><id>"), F.col("event_id"),
        F.lit("</id><kind>"), F.col("event_type"),
        F.lit("</kind><val>"),
        F.round(F.col("value"), 6).cast("string"),
        F.lit("</val><uid>"), F.col("user_id"), F.lit("</uid></item>"),
    )
    parsed = ev.select(xml.alias("doc")).select(
        F.from_xml(
            "doc", "id BIGINT, kind STRING, val DOUBLE, uid BIGINT"
        ).alias("p")
    ).select("p.id", "p.kind", "p.val", "p.uid")
    return parsed.groupBy(F.col("kind").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.col("val"), 6).cast("decimal(20,9)")
        ).cast("double").alias("sum_val"),
        F.max("id").alias("max_event_id"),
        F.count(F.when(F.col("uid") % 2 == 0, 1)).alias("even_users"),
    )


_XML_ROUNDTRIP_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(value, 6) AS DECIMAL(20,9))) AS DOUBLE) AS sum_val,
       MAX(event_id) AS max_event_id,
       COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS even_users
FROM events
GROUP BY 1
"""


ROUND6_QUERIES["xml_roundtrip_ingest"] = (
    q_xml_roundtrip_ingest,
    _XML_ROUNDTRIP_SQL,
)


# ---------------------------------------------------------------------------
# clv_decile_migration — rank-migration matrix between periods
# ---------------------------------------------------------------------------


def q_clv_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value decile migration 1996→1997: bucket customers into
    spend deciles in each year, count the (from_decile, to_decile)
    transition matrix — the retention/upsell diagnostic every CRM
    report carries.  Customers present in only one year land in decile
    0 of the other (the "new / lapsed" rows of the matrix).

    Deciles are EXACT by global spend rank with the customer key as
    tie-break — computed with the prebin discipline (spend-band
    partitioned rank + driver-side exclusive offsets, O(#bands)
    collect), never a corpus-wide ntile sort.  The matrix itself is a
    100-cell aggregate.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    spend = orders.where(yr.isin(1996, 1997)).groupBy(
        F.col("o_custkey").alias("c"), yr.alias("y")
    ).agg(F.sum(cents("o_totalprice")).alias("s"))
    from etl_portofolio_spark.caching import scoped_persist

    spend = scoped_persist(spend)

    def deciles(year: int):
        one = spend.where(F.col("y") == year).withColumn(
            "band", F.floor(F.col("s") / F.lit(1_000_000)).cast("long")
        )
        counts = sorted(
            (r["band"], r["n"])
            for r in one.groupBy("band").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        total = sum(n for _, n in counts)
        off, run = {}, 0
        for bb, n in counts:
            off[bb] = run
            run += n
        off_df = spark.createDataFrame(
            [(bb, o) for bb, o in off.items()], "band long, off long"
        )
        w = Window.partitionBy("band").orderBy("s", "c")
        return one.join(F.broadcast(off_df), "band").select(
            "c",
            F.least(
                F.lit(10),
                F.floor(
                    (F.col("off") + F.row_number().over(w) - 1)
                    * 10
                    / F.lit(total)
                ).cast("long")
                + 1,
            ).alias("decile"),
        )

    d96 = deciles(1996).select(F.col("c"), F.col("decile").alias("from_decile"))
    d97 = deciles(1997).select(F.col("c"), F.col("decile").alias("to_decile"))
    return (
        d96.join(d97, "c", "full_outer")
        .select(
            F.coalesce("from_decile", F.lit(0)).alias("from_decile"),
            F.coalesce("to_decile", F.lit(0)).alias("to_decile"),
        )
        .groupBy("from_decile", "to_decile")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


_CLV_SQL = """
WITH spend AS (
  SELECT o_custkey AS c, EXTRACT(year FROM o_orderdate) AS y,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS s
  FROM orders WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
  GROUP BY 1, 2
), d96 AS (
  SELECT c, LEAST(10, CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY s, c) - 1) * 10.0
                   / COUNT(*) OVER ()) AS BIGINT) + 1) AS from_decile
  FROM spend WHERE y = 1996
), d97 AS (
  SELECT c, LEAST(10, CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY s, c) - 1) * 10.0
                   / COUNT(*) OVER ()) AS BIGINT) + 1) AS to_decile
  FROM spend WHERE y = 1997
)
SELECT COALESCE(from_decile, 0) AS from_decile,
       COALESCE(to_decile, 0) AS to_decile,
       COUNT(*) AS n_customers
FROM d96 FULL OUTER JOIN d97 USING (c)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# returns_shrunk_rate — empirical-Bayes shrinkage on small-sample rates
# ---------------------------------------------------------------------------

_EB_ALPHA, _EB_BETA = 5, 20  # Beta prior: ~20% prior return rate, n0=25


def q_returns_shrunk_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer return-rate with empirical-Bayes (Beta prior)
    shrinkage: raw rates over tiny order counts are noise (1 return in
    2 line items "beats" 30 in 100); the shrunk posterior mean
    (returns + α) / (lines + α + β) ranks honestly.  Top 20 shrunk
    rates with exact-integer inputs; the division rounds to 6 BEFORE
    the ordering (the ranking rule).

    One aggregation over lineitem joined... no join at all: returnflag
    lives on the line item, the customer arrives via orders — one
    shuffle join on the order key, one groupBy, one top-k.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    per_cust = (
        li.join(orders, "l_orderkey")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("ret").alias("n_returns"),
        )
    )
    shrunk = per_cust.select(
        "custkey",
        "n_lines",
        "n_returns",
        F.round(
            (F.col("n_returns") + F.lit(_EB_ALPHA)).cast("double")
            / (F.col("n_lines") + F.lit(_EB_ALPHA + _EB_BETA)).cast("double"),
            6,
        ).alias("shrunk_rate"),
    )
    return shrunk.orderBy(
        F.col("shrunk_rate").desc(), "custkey"
    ).limit(20)


_EB_SQL = oracle_bigint(f"""
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         COUNT(*) AS n_lines,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_returns
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
)
SELECT custkey, n_lines, n_returns,
       round(CAST(n_returns + {_EB_ALPHA} AS DOUBLE)
             / CAST(n_lines + {_EB_ALPHA + _EB_BETA} AS DOUBLE), 6)
         AS shrunk_rate
FROM per_cust
ORDER BY shrunk_rate DESC, custkey
LIMIT 20
""", "n_returns")


ROUND6_QUERIES["clv_decile_migration"] = (q_clv_decile_migration, _CLV_SQL)
ROUND6_QUERIES["returns_shrunk_rate"] = (q_returns_shrunk_rate, _EB_SQL)


# ---------------------------------------------------------------------------
# brand_bfs_hops — iterative frontier BFS vs a recursive-CTE oracle
# ---------------------------------------------------------------------------

_BFS_MAX_HOPS = 3
_BFS_MIN_CO_FRAC = 0.004  # edge iff co-basket count >= 0.4% of baskets


def q_brand_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distance from the lexicographically-first
    brand over the STRONG co-purchase graph (edges where the co-basket
    count clears a fraction-of-baskets threshold, so the graph stays
    meaningfully sparse at any scale factor).

    The Spark side is the scalable frontier iteration — three rounds
    of (frontier ⋈ edges) \\ visited, each an equi-join on the brand —
    while the oracle is DuckDB's RECURSIVE CTE: two entirely different
    algorithms must emit identical (brand, dist) rows, the same
    cross-validation discipline as `recursive_order_chain`.  At scale
    the frontier join shuffles only frontier×degree rows per round and
    the visited set is domain-bounded (brands, not baskets).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    from etl_portofolio_spark.caching import scoped_persist

    baskets = scoped_persist(baskets)
    n_baskets = baskets.select("l_orderkey").distinct().count()
    min_co = int(n_baskets * _BFS_MIN_CO_FRAC) + 1
    a = baskets.select("l_orderkey", F.col("p_brand").alias("src"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("dst"))
    und = (
        a.join(b, "l_orderkey")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("co"))
        .where(F.col("co") >= min_co)
    )
    edges = scoped_persist(
        und.select("src", "dst").unionAll(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    seed = baskets.agg(F.min("p_brand")).first()[0]
    dist = spark.createDataFrame([(seed, 0)], "brand string, dist int")
    frontier = dist.select("brand")
    for hop in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier["brand"] == edges["src"])
            .select(F.col("dst").alias("brand"))
            .distinct()
            .join(dist.select("brand"), "brand", "left_anti")
        )
        dist = dist.unionAll(
            nxt.select("brand", F.lit(hop).alias("dist"))
        )
        # brands are domain-bounded: localizing the frontier is a
        # bounded collect-free persist, 3 rounds total
        frontier = nxt
        dist = scoped_persist(dist)
    return dist


def _bfs_oracle() -> str:
    return f"""
WITH RECURSIVE baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), nb AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets
), und AS (
  SELECT a.p_brand AS src, b.p_brand AS dst, COUNT(*) AS co
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
  HAVING COUNT(*) >= CAST((SELECT n FROM nb) * {_BFS_MIN_CO_FRAC} AS BIGINT) + 1
), edges AS (
  SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und
), bfs(brand, dist) AS (
  SELECT (SELECT MIN(p_brand) FROM baskets), 0
  UNION
  SELECT e.dst, bfs.dist + 1
  FROM bfs JOIN edges e ON e.src = bfs.brand
  WHERE bfs.dist < {_BFS_MAX_HOPS}
)
SELECT brand, CAST(MIN(dist) AS INT) AS dist
FROM bfs GROUP BY 1
"""


ROUND6_QUERIES["brand_bfs_hops"] = (q_brand_bfs_hops, _bfs_oracle())


# ---------------------------------------------------------------------------
# dup_span_report — substring-level duplication audit (Lee et al. shape)
# ---------------------------------------------------------------------------

_SPAN_K = 8  # window width in tokens; spans merge where windows overlap


def q_dup_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-duplication audit: positional 8-token windows that
    recur across documents mark duplicated SPANS (overlapping windows
    merge into islands), and each source reports how much of its text
    is cross-document duplicated — the "dedup the training data at the
    substring level" measurement (Lee et al. 2022 shape) that document-
    level dedup cannot see.

    Scale path: positional windows explode map-side from a
    materialized token array (same O(len·k) as the shingle pipeline);
    ONE shuffle keys window hashes to compute cross-doc frequency; the
    duplicated positions semi-join back and the island merge is a lag
    window PARTITIONED BY doc.  Ratios round to 9 into DECIMAL(38,9)
    before the source rollup.  Everything is md5 + integers — exact
    DuckDB twin.
    """
    from pyspark.sql import Window

    from etl_portofolio_spark.caching import scoped_persist
    from etl_portofolio_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", "source", tokens("text").alias("__toks")
    ).select(
        "doc_id",
        "source",
        F.size("__toks").alias("n_tokens"),
        F.expr(
            f"transform(sequence(1, greatest(size(__toks) - {_SPAN_K - 1}, 0)),"
            f" i -> struct(i AS pos, md5(concat_ws(' ',"
            f" slice(__toks, i, {_SPAN_K}))) AS gh))"
        ).alias("wins"),
    )
    pos = scoped_persist(
        toked.select(
            "doc_id", "source", "n_tokens", F.explode("wins").alias("w")
        ).select("doc_id", "source", "n_tokens", "w.pos", "w.gh")
    )
    cross_doc = (
        pos.select("doc_id", "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gh")
    )
    dup_pos = pos.join(cross_doc, "gh", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        dup_pos.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") > F.col("prev") + F.lit(_SPAN_K - 1)),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "isl", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("doc_id", "source", "n_tokens", "isl")
        .agg(
            (F.max("pos") - F.min("pos") + F.lit(_SPAN_K)).alias("span_tokens")
        )
    )
    per_doc = islands.groupBy("doc_id", "source", "n_tokens").agg(
        F.sum("span_tokens").alias("dup_tokens")
    )
    all_docs = toked.select("doc_id", "source", "n_tokens").join(
        per_doc.select("doc_id", "dup_tokens"), "doc_id", "left"
    )
    ratio = F.round(
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
        / F.col("n_tokens").cast("double"),
        9,
    ).cast("decimal(20,9)")
    return all_docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("dup_tokens").isNotNull(), 1).otherwise(0)
        ).alias("docs_with_dups"),
        F.round(
            F.sum(ratio).cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_dup_ratio"),
    )


_DUP_SPAN_SQL = oracle_bigint(f"""
WITH tok AS (
  SELECT doc_id, source,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), base AS (
  SELECT doc_id, source, len(t) AS n_tokens, t FROM tok
), pos AS (
  SELECT doc_id, source, n_tokens, i AS pos,
         md5(array_to_string(t[i : i + {_SPAN_K - 1}], ' ')) AS gh
  FROM base, LATERAL unnest(generate_series(1,
         greatest(len(t) - {_SPAN_K - 1}, 0))) u(i)
), cross_doc AS (
  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM pos)
  GROUP BY gh HAVING COUNT(*) >= 2
), dup_pos AS (
  SELECT p.* FROM pos p WHERE p.gh IN (SELECT gh FROM cross_doc)
), flagged AS (
  SELECT doc_id, source, n_tokens, pos,
         CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         + {_SPAN_K - 1}
              THEN 1 ELSE 0 END AS brk
  FROM dup_pos
), numbered AS (
  SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM flagged
), islands AS (
  SELECT doc_id, source, n_tokens, isl,
         MAX(pos) - MIN(pos) + {_SPAN_K} AS span_tokens
  FROM numbered GROUP BY 1, 2, 3, 4
), per_doc AS (
  SELECT doc_id, SUM(span_tokens) AS dup_tokens
  FROM islands GROUP BY 1
), all_docs AS (
  SELECT b.doc_id, b.source, b.n_tokens, p.dup_tokens
  FROM base b LEFT JOIN per_doc p USING (doc_id)
)
SELECT source, COUNT(*) AS n_docs,
       SUM(CASE WHEN dup_tokens IS NOT NULL THEN 1 ELSE 0 END)
         AS docs_with_dups,
       round(CAST(SUM(CAST(round(COALESCE(dup_tokens, 0)
                 / CAST(n_tokens AS DOUBLE), 9) AS DECIMAL(20,9)))
             AS DOUBLE) / COUNT(*), 6) AS avg_dup_ratio
FROM all_docs
GROUP BY 1
""", "docs_with_dups")


ROUND6_QUERIES["dup_span_report"] = (q_dup_span_report, _DUP_SPAN_SQL)


# ---------------------------------------------------------------------------
# bpe_merge_candidates — the BPE vocabulary-induction inner loop
# ---------------------------------------------------------------------------


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One step of BPE vocabulary induction at corpus scale: count
    every ADJACENT token pair (the merge candidates) and rank the top
    20 — the inner loop a distributed tokenizer trainer runs per merge.
    Differs from `token_pmi_pairs` (windowed co-occurrence statistics):
    BPE needs exact ADJACENCY counts, position-aware.

    Scale: pairs zip map-side from the materialized token array
    (arrays_zip of the array with its own tail — no explode-then-self-
    join), one combinable groupBy on the pair, TakeOrderedAndProject
    for the top-k.  Count ties break lexicographically so both engines
    pick the same 20.
    """
    from etl_portofolio_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(tokens("text").alias("__toks"))
    pairs = toked.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(__toks) - 1, 0)),"
                " i -> struct(__toks[i-1] AS a, __toks[i] AS b))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    counts = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.col("n").desc(), "a", "b").limit(20)


_BPE_SQL = """
WITH tok AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents
), pairs AS (
  SELECT t[i] AS a, t[i+1] AS b
  FROM tok, LATERAL unnest(generate_series(1, greatest(len(t) - 1, 0))) u(i)
)
SELECT a, b, COUNT(*) AS n
FROM pairs
GROUP BY 1, 2
ORDER BY n DESC, a, b
LIMIT 20
"""


ROUND6_QUERIES["bpe_merge_candidates"] = (q_bpe_merge_candidates, _BPE_SQL)


# ---------------------------------------------------------------------------
# ppjoin_exact_pairs — prefix-filtered EXACT set-similarity join
# ---------------------------------------------------------------------------

_PP_T = 0.5  # Jaccard threshold


def q_ppjoin_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin family) — the deterministic complement to MinHash-LSH:
    where LSH trades recall for speed probabilistically, the prefix
    filter is LOSSLESS (any pair with J ≥ t must share at least one of
    each side's |s|-⌈t·|s|⌉+1 rarest shingles under a global canonical
    order), so every qualifying pair is found, guaranteed.

    Scale: candidates come from an equi-join on PREFIX shingles only —
    by construction the rarest per document, so bucket sizes are
    bounded by rare-token document frequency (the inverse of the LSH
    hot-bucket hazard); verification touches candidates only.  The
    oracle is the algorithm-INDEPENDENT brute force over a 30% doc
    slice — the strongest differential shape (nothing to co-vary
    with).  Windows partition by doc; one shuffle keys the global
    shingle frequencies.
    """
    from pyspark.sql import Window

    from etl_portofolio_spark.caching import scoped_persist
    from etl_portofolio_spark.operators.dedup import shingled_docs

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 10 < 3
    )
    sh = scoped_persist(shingled_docs(docs, "doc_id", "text"))
    ex = sh.select("doc_id", F.explode("sh_set").alias("g"))
    freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = ex.join(freq, "g").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "g")
        ),
    )
    sizes = sh.select("doc_id", F.size("sh_set").alias("sz"))
    prefix = (
        ranked.join(sizes, "doc_id")
        .where(
            F.col("r")
            <= F.col("sz") - F.ceil(F.col("sz") * F.lit(_PP_T)) + F.lit(1)
        )
        .select("doc_id", "g")
    )
    a = prefix.select(F.col("doc_id").alias("id_a"), "g")
    b = prefix.select(F.col("doc_id").alias("id_b"), "g")
    cands = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    da = sh.select(F.col("doc_id").alias("id_a"), F.col("sh_set").alias("sa"))
    db = sh.select(F.col("doc_id").alias("id_b"), F.col("sh_set").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        cands.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.try_divide(inter.cast("double"), union.cast("double")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= _PP_T)
    )


_PPJOIN_SQL = f"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents WHERE doc_id % 10 < 3
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(t)-2,0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM tok
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(len(list_intersect(a.s, b.s))::DOUBLE
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
           AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
WHERE jaccard >= {_PP_T}
"""


ROUND6_QUERIES["ppjoin_exact_pairs"] = (q_ppjoin_exact_pairs, _PPJOIN_SQL)
