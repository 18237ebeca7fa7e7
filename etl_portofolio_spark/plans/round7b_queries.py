"""Round-7b query wave — retrieval evaluation, sketch registers, MMR
diversification, and a write-path roundtrip that puts the K1/K4 sink
machinery under the driver's oracle gate.

Each entry: name -> (builder(spark, sf_dir) -> DataFrame, DuckDB oracle
SQL).  Same determinism contract as every other wave: md5-based hashing
only (``functions.hashing.h32`` is bit-identical in both engines),
integer emission wherever a float could drift (reciprocal ranks in
exact 1/2520 units, HLL registers as lowest-set-bit integers), cosine
scores as per-term-rounded DECIMAL partials rounded to 6 before any
ranking, ids breaking every tie.

Scale notes inline per query; the wave's common theme is BOUNDED
panels: retrieval evals run over a fixed probe panel, MMR runs over a
top-k candidate list, HLL registers are a 64-row frame — none of the
downstream arithmetic ever touches fact-row cardinalities.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.functions.hashing import h32, h32_sql
from etl_portofolio_spark.plans.oracle_types import oracle_bigint

ROUND7B_QUERIES: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {}


# ---------------------------------------------------------------------------
# hll_register_sketch — HyperLogLog register construction, exactly
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers


def q_hll_register_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of a HyperLogLog cardinality sketch over
    ``orders.o_custkey``, emitted EXACTLY: each key routes to register
    ``h32('hllreg:'||key) % 64`` and contributes the lowest set bit of
    an independent hash ``h32('hllrho:'||key)`` — ``h & -h``, the
    power-of-two twin of the leading-run length rho that HLL's
    estimator consumes.  The output is the 64-row register table
    (register, max lowest-set-bit, exact distinct keys per register):
    everything the driver-side estimator needs, with zero floating
    point anywhere.

    Spark's own ``approx_count_distinct`` is HLL++ but its registers
    are not reproducible outside the JVM; this query evidences the
    portable construction — the register table is mergeable across
    shards/streams by ``max`` (the sketch property that makes HLL the
    100 TB cardinality tool), and the per-register distinct count
    doubles as a router-uniformity audit.

    Scale design: one map-side-combinable pass over orders (max is
    algebraic; the per-register COUNT(DISTINCT) expands to at most
    #keys rows pre-shuffle, keyed by 64 registers with uniform md5
    routing — no hot key possible).  The output frame is 64 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    ck = F.col("o_custkey").cast("string")
    keyed = orders.select(
        (h32(F.concat(F.lit("hllreg:"), ck)) % F.lit(_HLL_M)).alias("register"),
        h32(F.concat(F.lit("hllrho:"), ck)).alias("__h"),
        F.col("o_custkey").alias("__k"),
    ).select(
        "register",
        F.expr("__h & -__h").alias("__t"),
        "__k",
    )
    return keyed.groupBy("register").agg(
        F.max("__t").alias("max_lowbit"),
        F.countDistinct("__k").alias("n_keys"),
    )


_HLL_SQL = f"""
WITH keyed AS (
  SELECT {h32_sql("'hllreg:' || CAST(o_custkey AS VARCHAR)")} % {_HLL_M} AS register,
         {h32_sql("'hllrho:' || CAST(o_custkey AS VARCHAR)")} AS h,
         o_custkey AS k
  FROM orders
)
SELECT register,
       MAX(h & (-h)) AS max_lowbit,
       COUNT(DISTINCT k) AS n_keys
FROM keyed
GROUP BY register
"""

ROUND7B_QUERIES["hll_register_sketch"] = (q_hll_register_sketch, _HLL_SQL)


# ---------------------------------------------------------------------------
# mrr_label_retrieval — mean reciprocal rank in exact 1/2520 units
# ---------------------------------------------------------------------------

_MRR_PROBES = 5  # vec_id 0..4
_MRR_K = 10
_MRR_LCM = 2520  # lcm(1..10): 2520/rank is an exact integer for rank<=10


def q_mrr_label_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval: for each probe vector (vec_id 0..4),
    rank every other embedding by cosine and find the rank of the
    first SAME-LABEL hit within the top-10 — the reciprocal-rank
    metric behind MRR@k, emitted in exact 1/2520 units
    (lcm(1..10) — ``2520 div rank`` is an exact integer, so the eval
    has no float anywhere).  A probe with no same-label hit in the
    top-10 reports rank -1 and 0 units.

    Scale design: the 5-row probe panel broadcasts against the corpus
    (the corpus never shuffles) and cosines are MAP-SIDE sequential
    array folds — the ``operators.similarity`` formulation whose
    left-fold order the DuckDB ``list_reduce`` oracle replays exactly
    (the proven ``ann_brute_force_topk`` pattern; an earlier
    explode+equi-join+decimal-agg draft was 4× slower for identical
    results).  Ranking windows partition BY PROBE, so the per-group
    sort is parallel across the panel and never global; scores round
    to 6 before ranking, ids break ties.
    """
    from etl_portofolio_spark.operators.similarity import _dvec, cosine_fold_pd

    emb = load_table(spark, sf_dir, "embeddings")
    docs = emb.select(
        F.col("vec_id").alias("id"),
        F.col("label").alias("lbl"),
        _dvec("embedding").alias("v"),
    )
    probes = docs.where(F.col("id") < _MRR_PROBES).select(
        F.col("id").alias("pid"),
        F.col("lbl").alias("plbl"),
        F.col("v").alias("qv"),
    )
    # Arrow-vectorized sequential-fold cosine: bit-identical to the
    # expression fold (and the oracle's list_reduce) but the |panel| x
    # |corpus| scoring no longer pays interpreted-HOF cost per row
    # (r7 verdict item #5).
    scored = docs.join(
        F.broadcast(probes), F.col("id") != F.col("pid")
    ).select(
        "pid",
        "plbl",
        "id",
        "lbl",
        F.round(cosine_fold_pd(F.col("qv"), F.col("v")), 6).alias("s"),
    )
    w = Window.partitionBy("pid").orderBy(F.col("s").desc(), F.col("id").asc())
    top = scored.select(
        "pid", "plbl", "lbl", F.row_number().over(w).alias("rnk")
    ).where(F.col("rnk") <= _MRR_K)
    return (
        top.groupBy("pid")
        .agg(
            F.min(
                F.when(F.col("lbl") == F.col("plbl"), F.col("rnk"))
            ).alias("__fr")
        )
        .select(
            F.col("pid").alias("probe_id"),
            F.coalesce(F.col("__fr"), F.lit(-1)).cast("long").alias(
                "first_rel_rank"
            ),
            F.coalesce(
                F.expr(f"{_MRR_LCM} div __fr"), F.lit(0)
            ).cast("long").alias("rr_units_2520"),
        )
    )


from etl_portofolio_spark.plans.pipeline_queries import (  # noqa: E402
    _sql_cosine,
)

_MRR_SQL = f"""
WITH docs AS (
  SELECT vec_id AS id, label AS lbl,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), probes AS (
  SELECT id AS pid, lbl AS plbl, v AS qv FROM docs WHERE id < {_MRR_PROBES}
), scored AS (
  SELECT p.pid, p.plbl, d.id, d.lbl,
         round({_sql_cosine('p.qv', 'd.v')}, 6) AS s
  FROM docs d, probes p WHERE d.id <> p.pid
), top AS (
  SELECT pid, plbl, lbl,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY s DESC, id ASC) AS rnk
  FROM scored
  QUALIFY rnk <= {_MRR_K}
), firsts AS (
  SELECT pid, MIN(CASE WHEN lbl = plbl THEN rnk END) AS fr
  FROM top GROUP BY pid
)
SELECT pid AS probe_id,
       CAST(COALESCE(fr, -1) AS BIGINT) AS first_rel_rank,
       CAST(COALESCE({_MRR_LCM} // fr, 0) AS BIGINT) AS rr_units_2520
FROM firsts
"""

ROUND7B_QUERIES["mrr_label_retrieval"] = (q_mrr_label_retrieval, _MRR_SQL)


# ---------------------------------------------------------------------------
# mmr_diversified_topk — Maximal Marginal Relevance re-ranking
# ---------------------------------------------------------------------------

_MMR_CAND = 12  # candidate pool (top-k by relevance)
_MMR_PICK = 4  # greedy selections


def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: greedily re-rank the top-12
    cosine candidates of probe vec_id=0 so each pick maximizes
    ``relevance − max-similarity-to-already-picked`` (lambda=1/2, the
    monotone-equivalent form) — the standard diversified-retrieval
    stage between ANN top-k and an LLM context window.

    Scale design: relevance is the corpus-linear scored scan all ANN
    queries share; everything after runs on the BOUNDED candidate
    panel — 12 rows, 132 ordered pairs — localCheckpointed once so the
    4 unrolled greedy rounds never re-derive the corpus scan and the
    final plan stays constant-size.  Every score is rounded to 6
    before comparison and ids break ties, so the greedy argmax is
    deterministic cross-engine; the oracle replays the same 4 rounds
    as unrolled CTEs.
    """
    from etl_portofolio_spark.operators.similarity import (
        _dvec,
        cosine,
        cosine_fold_pd,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    docs = emb.select(F.col("vec_id").alias("id"), _dvec("embedding").alias("v"))
    probe = docs.where(F.col("id") == 0).select(F.col("v").alias("qv"))
    # corpus-linear relevance scan: Arrow-vectorized sequential fold
    # (bit-identical to the expression form; r7 verdict item #5) — the
    # 132-pair candidate sims below stay on the expression fold, where
    # a Python worker round-trip would cost more than it saves
    rel = (
        docs.join(F.broadcast(probe))
        .where(F.col("id") != 0)
        .select(
            "id",
            "v",
            F.round(cosine_fold_pd(F.col("qv"), F.col("v")), 6).alias("r"),
        )
    )
    # the bounded candidate panel (id, relevance, vector) — one action,
    # then every greedy round reads these 12 rows, never the corpus
    cv = (
        rel.orderBy(F.col("r").desc(), F.col("id").asc())
        .limit(_MMR_CAND)
        .localCheckpoint(eager=True)
    )
    cand = cv.select("id", "r")
    a = cv.select(F.col("id").alias("ia"), F.col("v").alias("va"))
    b = cv.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
    # lazy: each greedy round re-derives the 132-pair frame from the
    # 12-row checkpointed panel — a map-side nested loop, cheaper than
    # a second eager checkpoint action
    sims = a.join(F.broadcast(b), F.col("ia") != F.col("ib")).select(
        "ia",
        "ib",
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("s"),
    )

    picks: list[DataFrame] = []
    selected = (
        cand.orderBy(F.col("r").desc(), F.col("id").asc())
        .limit(1)
        .select("id", F.col("r").alias("mmr_r6"))
    )
    picks.append(selected.select(F.lit(1).cast("long").alias("sel_rank"), "id", "mmr_r6"))
    sel_ids = selected.select("id")
    for t in range(2, _MMR_PICK + 1):
        ms = (
            sims.join(F.broadcast(sel_ids.withColumnRenamed("id", "ib")), "ib")
            .groupBy("ia")
            .agg(F.max("s").alias("msim"))
        )
        pick = (
            cand.join(F.broadcast(sel_ids), "id", "left_anti")
            .join(F.broadcast(ms.withColumnRenamed("ia", "id")), "id")
            .select("id", F.round(F.col("r") - F.col("msim"), 6).alias("mmr_r6"))
            .orderBy(F.col("mmr_r6").desc(), F.col("id").asc())
            .limit(1)
        )
        picks.append(
            pick.select(F.lit(t).cast("long").alias("sel_rank"), "id", "mmr_r6")
        )
        # no checkpoint: sel_ids stays a <=3-row union over the
        # checkpointed panel — lineage is shallow by construction
        sel_ids = sel_ids.union(pick.select("id"))

    out = picks[0]
    for p in picks[1:]:
        out = out.union(p)
    return out


def _mmr_sql() -> str:
    base = f"""
WITH docs AS (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), probe AS (
  SELECT v AS qv FROM docs WHERE id = 0
), rel AS (
  SELECT d.id, round({_sql_cosine('p.qv', 'd.v')}, 6) AS r
  FROM docs d, probe p WHERE d.id <> 0
), cand AS (
  SELECT id, r FROM rel ORDER BY r DESC, id ASC LIMIT {_MMR_CAND}
), cv AS (
  SELECT c.id, c.r, d.v FROM cand c JOIN docs d ON d.id = c.id
), sims AS (
  SELECT a.id AS ia, b.id AS ib, round({_sql_cosine('a.v', 'b.v')}, 6) AS s
  FROM cv a JOIN cv b ON a.id <> b.id
), s1 AS (
  SELECT id, r AS mmr FROM cand ORDER BY r DESC, id ASC LIMIT 1
)"""
    sel_union = "SELECT id FROM s1"
    for t in range(2, _MMR_PICK + 1):
        base += f""", s{t} AS (
  SELECT c.id, round(c.r - MAX(s.s), 6) AS mmr
  FROM cand c JOIN sims s ON s.ia = c.id AND s.ib IN ({sel_union})
  WHERE c.id NOT IN ({sel_union})
  GROUP BY c.id, c.r
  ORDER BY mmr DESC, c.id ASC LIMIT 1
)"""
        sel_union += f" UNION ALL SELECT id FROM s{t}"
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS BIGINT) AS sel_rank, id, mmr AS mmr_r6 FROM s{t}"
        for t in range(1, _MMR_PICK + 1)
    )
    return base + "\n" + finals


ROUND7B_QUERIES["mmr_diversified_topk"] = (q_mmr_diversified_topk, _mmr_sql())


# ---------------------------------------------------------------------------
# sink_partition_roundtrip — K1 append + K4 idempotent rewrite, oracle-gated
# ---------------------------------------------------------------------------


def q_sink_partition_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write path under the oracle gate: ingest ``events`` into a
    ds-partitioned warehouse through the production sink
    (``sinks.writer.write_partitioned`` — the reference's K1 append /
    K4 truncate-then-append as dynamic partition overwrite,
    `Ingestion Data (XML).py:129-141` semantics), deliberately
    DOUBLE-INGESTING one boundary day and healing it with the
    idempotent per-partition rewrite.  The query answers from the
    warehouse; the oracle recomputes from the source parquet — equal
    results prove the append/rewrite sequence restored exactly-once
    state.

    Scale design: the warehouse is a content-keyed cached fixture
    (rebuilt whenever the sources change, atomic publish — the r6
    staleness lesson); writes flow through the adaptive file-sizing
    path (K3); the readback is one map-side-combinable aggregate per
    partition.  Only the ≤31-day boundary pick is driver-side.
    """
    from etl_portofolio_spark.fixtures import ensure_fixture
    from etl_portofolio_spark.sinks.writer import write_partitioned

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "ds", F.to_date("ts")
        )
        days = sorted(
            r["ds"] for r in ev.select("ds").distinct().collect()
        )  # bounded: calendar days, never fact rows
        mid = days[len(days) // 2]
        write_partitioned(ev.where(F.col("ds") <= F.lit(mid)), tmp, "ds", mode="append")
        # double-ingest: the mid partition lands a second time
        write_partitioned(ev.where(F.col("ds") >= F.lit(mid)), tmp, "ds", mode="append")
        # heal: idempotent dynamic overwrite truncates ONLY ds=mid
        write_partitioned(ev.where(F.col("ds") == F.lit(mid)), tmp, "ds", mode="overwrite")

    path = ensure_fixture(sf_dir, "sink_roundtrip", _build)
    wh = spark.read.parquet(path)
    return (
        wh.select(F.col("ds").cast("date").alias("ds"), "event_id", "user_id")
        .groupBy("ds")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )
    )


_SINK_SQL = """
SELECT CAST(ts AS DATE) AS ds,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       MAX(event_id) AS max_event_id
FROM events
GROUP BY CAST(ts AS DATE)
"""

ROUND7B_QUERIES["sink_partition_roundtrip"] = (
    q_sink_partition_roundtrip,
    _SINK_SQL,
)


# ---------------------------------------------------------------------------
# xml_api_window_ingest — the S2/S3 HTTP XML-query source, oracle-gated
# ---------------------------------------------------------------------------


def q_xml_api_window_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's XML-query API ingestion (S2/S3,
    `Ingestion Data (XML).py:70-132`) under the oracle gate: the Spark 4
    Python DataSource plans one input partition per daily window and
    each EXECUTOR fetches + CSV-parses its own window (the reference
    pulled the whole payload through driver pandas).  The fetch
    boundary is the source's pluggable ``fetcher``; here it answers
    from ``events.parquet`` deterministically
    (`sources.xmlapi_fixture`), so DuckDB can recompute the expected
    aggregate exactly — proving window planning, executor-side fetch,
    explicit-schema CSV decode, and the fan-in aggregation end to end.

    Scale design: windows fetch in parallel (one partition each, ~30
    here, thousands in production); only the 1-row min/max bounds probe
    is driver-side.  Payload numerics are integers rendered as text and
    parsed into doubles losslessly, so the SUMs are exact at any scale
    (< 2^53) and emit as BIGINT.
    """
    import os as _os

    from etl_portofolio_spark.sources.http_xml import register_xml_api

    register_xml_api(spark)
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.date_format(F.to_date(F.min("ts")), "yyyy-MM-dd 00:00:00").alias("s"),
        F.date_format(
            F.date_add(F.to_date(F.max("ts")), 1), "yyyy-MM-dd 00:00:00"
        ).alias("e"),
    ).first()  # bounded: one metadata row
    raw = (
        spark.read.format("xmlapi")
        .option(
            "fetcher",
            "etl_portofolio_spark.sources.xmlapi_fixture:fetch_events_csv",
        )
        .option("url", _os.path.join(sf_dir, "events.parquet"))
        .option("starttime", b["s"])
        .option("endtime", b["e"])
        .option("windowminutes", "1440")
        .load()
    )
    return raw.groupBy(F.col("appId_String").alias("app_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("transactions").cast("long").alias("sum_tx"),
        F.countDistinct("clientAddr").alias("n_clients"),
        F.sum("throughput").cast("long").alias("sum_tp"),
    )


_XMLAPI_SQL = oracle_bigint(
    """
SELECT event_type AS app_id,
       COUNT(*) AS n_rows,
       SUM(event_id % 100) AS sum_tx,
       COUNT(DISTINCT 'u' || CAST(user_id AS VARCHAR)) AS n_clients,
       SUM(event_id % 1000) AS sum_tp
FROM events
GROUP BY event_type
""",
    "sum_tx",
    "sum_tp",
)

ROUND7B_QUERIES["xml_api_window_ingest"] = (
    q_xml_api_window_ingest,
    _XMLAPI_SQL,
)


# ---------------------------------------------------------------------------
# jdbc_stripe_ingest — the S4 JDBC pushdown + parallel-stripe read, gated
# ---------------------------------------------------------------------------


def q_jdbc_stripe_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's MySQL ``history`` ingestion (S4,
    `Ingestion Data (MySQL).py:156-169`) under the oracle gate against a
    LIVE JDBC database: a content-keyed embedded-Derby fixture is seeded
    from ``events`` through Spark's JDBC WRITE path, then read back
    through ``sources.jdbc.JdbcWindowSource`` — the derived-table
    pushdown subquery plus 8 disjoint ``clock`` stripes fetching in
    parallel (the single-connection read was the reference's
    scalability defect).  The oracle recomputes the expected day
    buckets from the source parquet.

    Scale design: the seed is a one-time cached fixture (batch JDBC
    inserts); the gated read is stripe-parallel with the range filter
    executing INSIDE the database; only the 1-row clock-bounds probe is
    driver-side.  Values are integers end to end.
    """
    import os as _os
    from datetime import datetime, timezone

    from etl_portofolio_spark.fixtures import ensure_fixture
    from etl_portofolio_spark.sources.jdbc import JdbcWindowSource

    def _seed(tmp: str) -> None:
        # UPPERCASE column names: Spark's JDBC write quotes identifiers
        # exactly, while the pushdown subquery references them unquoted
        # (folded to uppercase by Derby) — lowercase seeds don't resolve
        ev = load_table(spark, sf_dir, "events").select(
            F.col("event_id").alias("ITEMID"),
            F.unix_timestamp("ts").alias("CLOCK"),
            (F.col("user_id") % 1000).alias("VAL"),
        )
        (
            ev.write.format("jdbc")
            .option("url", f"jdbc:derby:{tmp}/db;create=true")
            .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
            .option("dbtable", "history")
            .mode("overwrite")
            .save()
        )
        # Shut the embedded database DOWN before ensure_fixture renames
        # the dir: a still-booted instance holds the moved files and the
        # read-side boot at the published path fails ("Failed to start
        # database").  Derby signals a successful shutdown by THROWING
        # SQLException 08006 — the exception is the success path.
        try:
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{tmp}/db;shutdown=true"
            )
        except Exception:
            pass
        open(_os.path.join(tmp, "_SUCCESS"), "w").close()

    root = ensure_fixture(sf_dir, "jdbc_history_uc", _seed)
    bounds = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.min(F.unix_timestamp("ts")).alias("lo"),
            F.max(F.unix_timestamp("ts")).alias("hi"),
        )
        .first()
    )  # bounded: one metadata row
    src = JdbcWindowSource(
        url=f"jdbc:derby:{root}/db",
        table="history",
        user="",
        password="",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        num_partitions=8,
    )
    window = src.read_window(
        spark,
        datetime.fromtimestamp(bounds["lo"], tz=timezone.utc),
        datetime.fromtimestamp(bounds["hi"] + 1, tz=timezone.utc),
    )
    return window.groupBy(
        F.expr("CLOCK div 86400").alias("day_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("VAL").alias("sum_value"),
        F.min("CLOCK").alias("min_clock"),
        F.max("CLOCK").alias("max_clock"),
    )


_JDBC_SQL = oracle_bigint(
    """
SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_bucket,
       COUNT(*) AS n_rows,
       SUM(user_id % 1000) AS sum_value,
       MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS min_clock,
       MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS max_clock
FROM events
GROUP BY 1
""",
    "sum_value",
)

ROUND7B_QUERIES["jdbc_stripe_ingest"] = (q_jdbc_stripe_ingest, _JDBC_SQL)


# ---------------------------------------------------------------------------
# winsorized_mean_price — exact order-statistic clamping
# ---------------------------------------------------------------------------


def _order_stat(df: DataFrame, col: str, k: int, coarse: int = 4096) -> int:
    """The k-th order statistic (1-based) of an integer column, by
    two-level histogram descent — the theilsen/weighted-median
    discipline: NO global sort; a coarse histogram locates the target
    bin (collect bounded by domain/coarse), then the exact-value
    histogram WITHIN that bin (collect bounded by ``coarse`` distinct
    values) walks to the answer."""
    hist = sorted(
        (r["b"], r["c"])
        for r in df.groupBy(
            F.floor(F.col(col) / F.lit(coarse)).cast("long").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    run = 0
    for b, c in hist:
        if run + c >= k:
            break
        run += c
    fine = sorted(
        (r["v"], r["c"])
        for r in df.where(
            F.floor(F.col(col) / F.lit(coarse)).cast("long") == b
        )
        .groupBy(F.col(col).alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    for v, c in fine:
        run += c
        if run >= k:
            return v
    raise RuntimeError("order statistic descent fell off the histogram")


def q_winsorized_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized revenue statistics: clamp ``l_extendedprice`` at its
    exact 5th and 95th percentiles (order statistics at
    k = ceil(q·n) — the convention pinned in both engines) and emit
    the clamped sum — the outlier-robust mean every metrics pipeline
    wants, with NO floating point: prices are integer cents, the
    percentile bounds are exact order statistics, and the mean ships
    as (sum, count) integers.

    Scale design: the two percentile lookups are histogram descents
    (two bounded collects each — domain/4096 coarse bins, ≤4096
    exact values in the target bin), never a global sort; the clamp
    pass is one map-side-combinable aggregate over a persisted
    single-column projection.
    """
    from etl_portofolio_spark.caching import scoped_persist
    from etl_portofolio_spark.plans.analytics_queries import cents

    li = scoped_persist(
        load_table(spark, sf_dir, "lineitem").select(
            cents("l_extendedprice").alias("p_c")
        )
    )
    n = li.count()
    lo = _order_stat(li, "p_c", (5 * n + 99) // 100)
    hi = _order_stat(li, "p_c", (95 * n + 99) // 100)
    return li.agg(
        F.lit(lo).cast("long").alias("lo_c"),
        F.lit(hi).cast("long").alias("hi_c"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.least(F.greatest(F.col("p_c"), F.lit(lo)), F.lit(hi))
        ).alias("sum_winsor_c"),
    )


_WINSOR_SQL = oracle_bigint(
    """
WITH v AS (
  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p_c FROM lineitem
), ranked AS (
  SELECT p_c, ROW_NUMBER() OVER (ORDER BY p_c) AS rn FROM v
), n AS (SELECT COUNT(*) AS n FROM v),
bounds AS (
  SELECT
    (SELECT p_c FROM ranked WHERE rn = (5 * (SELECT n FROM n) + 99) // 100) AS lo_c,
    (SELECT p_c FROM ranked WHERE rn = (95 * (SELECT n FROM n) + 99) // 100) AS hi_c
)
SELECT b.lo_c, b.hi_c,
       COUNT(*) AS n_rows,
       SUM(LEAST(GREATEST(v.p_c, b.lo_c), b.hi_c)) AS sum_winsor_c
FROM v, bounds b
GROUP BY b.lo_c, b.hi_c
""",
    "sum_winsor_c",
)

ROUND7B_QUERIES["winsorized_mean_price"] = (
    q_winsorized_mean_price,
    _WINSOR_SQL,
)


# ---------------------------------------------------------------------------
# source_shingle_overlap — pairwise lexical-overlap matrix between sources
# ---------------------------------------------------------------------------

_OVERLAP_TOP = 15


def q_source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix diagnostics: how much 3-gram vocabulary do sources
    SHARE?  For every source pair, count the distinct word-3-shingles
    present in both — the lexical-overlap matrix that flags
    near-mirror sources (crawl duplicates, re-hosted corpora) before
    expensive doc-level dedup, reported as the top-15 most-overlapping
    pairs.

    Scale design: shingling reuses ``operators.dedup.shingled_docs``
    (tokens materialized before the HOF — the O(len²) trap); the
    (source, shingle) frame is distinct-reduced BEFORE the self-join,
    so the join is keyed on the shingle and each shingle contributes
    at most |sources|² rows regardless of corpus size; the result
    frame is bounded by source-pair count.
    """
    from etl_portofolio_spark.operators.dedup import shingled_docs

    docs = load_table(spark, sf_dir, "documents")
    sh = shingled_docs(docs, "doc_id", "text", k=3, extra_cols=("source",))
    g = sh.select(
        "source", F.explode("sh_set").alias("sh")
    ).distinct()
    a = g.select(F.col("source").alias("src_a"), "sh")
    b = g.select(F.col("source").alias("src_b"), "sh")
    return (
        a.join(b, "sh")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .orderBy(
            F.col("n_shared_shingles").desc(),
            F.col("src_a").asc(),
            F.col("src_b").asc(),
        )
        .limit(_OVERLAP_TOP)
    )


from etl_portofolio_spark.plans.pipeline_queries import (  # noqa: E402
    _SQL_SHINGLES,
    _SQL_TOKENS,
)

_OVERLAP_SQL = rf"""
WITH tok AS (
  SELECT source, {_SQL_TOKENS.format(col="text")} AS t FROM documents
), sh AS (
  SELECT source, {_SQL_SHINGLES.format(t="t")} AS s FROM tok
), g AS (
  SELECT DISTINCT source, unnest(s) AS sh FROM sh
)
SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared_shingles
FROM g a JOIN g b ON a.sh = b.sh AND a.source < b.source
GROUP BY 1, 2
ORDER BY n_shared_shingles DESC, src_a ASC, src_b ASC
LIMIT {_OVERLAP_TOP}
"""

ROUND7B_QUERIES["source_shingle_overlap"] = (
    q_source_shingle_overlap,
    _OVERLAP_SQL,
)


# ---------------------------------------------------------------------------
# streaming_dedup_oracle — REAL streaming dedup of a replayed source
# ---------------------------------------------------------------------------


def q_streaming_dedup_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming executed FOR REAL inside the gate, second
    shape: an at-least-once source that REPLAYS every record twice is
    deduplicated with ``dropDuplicatesWithinWatermark`` (bounded state:
    one entry per key, evicted when the watermark passes — the contract
    that makes streaming dedup viable at 100 TB) and aggregated into
    daily counts.  The oracle is the plain batch count over the
    ORIGINAL events — so the stream must drop exactly the synthetic
    replays, across a real multi-batch run with state carried between
    micro-batches.

    Determinism by construction: both copies of a record share an
    event time, so range-partitioning the replayed table on ``ts``
    puts them in the same file → the same micro-batch, always within
    the dedup horizon (the drop-after-horizon path is test-gated in
    ``tests/test_io_streaming.py``).  Files are time-ordered, so no
    record arrives behind the watermark.
    """
    import hashlib

    from etl_portofolio_spark.fixtures import ensure_fixture
    from etl_portofolio_spark.streaming.structured import (
        deduped_stream,
        read_file_stream,
    )

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type"
        )
        (
            ev.unionAll(ev)  # the at-least-once replay, every record 2x
            .repartitionByRange(2, F.col("ts"))
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    path = ensure_fixture(sf_dir, "events_stream_replayed", _build)
    stream = read_file_stream(
        spark,
        path,
        schema="event_id bigint, ts timestamp, event_type string",
        max_files_per_trigger=1,
    )
    clean = deduped_stream(stream, ("event_id",), "ts", "1 day")
    agg = clean.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    sink = f"r7b_dedup_sink_{hashlib.md5(path.encode()).hexdigest()[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("d"),
        "n_events",
    )


_STREAM_DEDUP_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
       COUNT(*) AS n_events
FROM events GROUP BY 1
"""

ROUND7B_QUERIES["streaming_dedup_oracle"] = (
    q_streaming_dedup_oracle,
    _STREAM_DEDUP_SQL,
)


# ---------------------------------------------------------------------------
# loo_target_encoding — leakage-free categorical feature encoding
# ---------------------------------------------------------------------------


def q_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of ``o_orderpriority`` against the
    order total — the categorical-feature encoder that avoids target
    leakage by excluding each row's own target from its category mean.
    Emitted EXACTLY as integer (numerator, denominator) pairs:
    ``loo_num_c = sum(cat) - own`` cents, ``loo_den = n(cat) - 1`` —
    the training job divides; the gate never hashes a float.

    Scale design: category stats come from a 5-row groupBy AGGREGATE
    broadcast-joined back to the facts — NOT a window partitioned by
    category, which would funnel each category's millions of rows
    through one task at 100 TB.  One fact scan for stats, one for the
    join; both map-side-combinable/broadcast.
    """
    from etl_portofolio_spark.plans.analytics_queries import cents

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents("o_totalprice").alias("own_c"),
    )
    stats = orders.groupBy("o_orderpriority").agg(
        F.sum("own_c").alias("__sum_c"),
        F.count(F.lit(1)).alias("__n"),
    )
    return orders.join(F.broadcast(stats), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("__sum_c") - F.col("own_c")).alias("loo_num_c"),
        (F.col("__n") - F.lit(1)).alias("loo_den"),
    )


_LOO_SQL = oracle_bigint(
    """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS own_c
  FROM orders
), stats AS (
  SELECT o_orderpriority, SUM(own_c) AS sum_c, COUNT(*) AS n
  FROM o GROUP BY o_orderpriority
)
SELECT o.o_orderkey, o.o_orderpriority,
       s.sum_c - o.own_c AS loo_num_c,
       s.n - 1 AS loo_den
FROM o JOIN stats s USING (o_orderpriority)
""",
    "loo_num_c",
    "loo_den",
)

ROUND7B_QUERIES["loo_target_encoding"] = (q_loo_target_encoding, _LOO_SQL)


# ---------------------------------------------------------------------------
# event_path_mining — top user-day event-type paths
# ---------------------------------------------------------------------------

_PATH_TOP = 20


def q_event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining, first stage: the most common user-day event
    JOURNEYS.  Each (user, day)'s events collapse — ordered by event
    time, event id breaking ties — into a '>'-joined path string
    ('view>view>purchase'), and the top-20 paths by frequency are the
    funnel-discovery report.

    Determinism: the order key is (epoch SECONDS, event_id) — both
    engines floor to seconds identically (the repo's epoch rule;
    raw timestamp order would be truncation-sensitive, Spark reads
    this parquet at micros while DuckDB keeps nanos).

    Scale design: paths build per (user, day) group — parallelism is
    the user-day count, collect_list is bounded by one user-day's
    events; array_sort on (sec, id, type) structs is in-group only;
    the final top-20 is TakeOrdered, never a global sort.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
        "event_type",
    )
    paths = ev.groupBy("user_id", "d").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("sec", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy(F.col("n_user_days").desc(), F.col("path").asc())
        .limit(_PATH_TOP)
    )


_PATH_SQL = f"""
WITH paths AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         string_agg(event_type, '>'
                    ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS path
  FROM events
  GROUP BY user_id, CAST(ts AS DATE)
)
SELECT path, COUNT(*) AS n_user_days
FROM paths
GROUP BY path
ORDER BY n_user_days DESC, path ASC
LIMIT {_PATH_TOP}
"""

ROUND7B_QUERIES["event_path_mining"] = (q_event_path_mining, _PATH_SQL)


# ---------------------------------------------------------------------------
# xml_api_stream_oracle — the S2 STREAMING face drained under the gate
# ---------------------------------------------------------------------------


def q_xml_api_stream_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third real streaming run under the gate, through the PYTHON
    DataSource's streaming face: the XML-query API consumed as a
    Structured Streaming source (checkpointable window offsets,
    executor-side fetch per window — `sources.http_xml.XmlApiStreamReader`),
    drained with availableNow into a complete-mode memory sink.  The
    aggregate and oracle are the batch ingest's — the streaming path
    must reproduce the batch answer exactly, which pins offset
    planning, per-window partitioning, and multi-batch accumulation.

    Scale design: same as the batch face — windows fetch in parallel
    on executors; the streaming engine adds checkpointed offsets (the
    incremental-ingest production shape for this API).  Payload
    numerics are integers in doubles; sums are exact and emit BIGINT.
    """
    import hashlib
    import os as _os

    from etl_portofolio_spark.sources.http_xml import register_xml_api

    register_xml_api(spark)
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.date_format(F.to_date(F.min("ts")), "yyyy-MM-dd 00:00:00").alias("s"),
        F.date_format(
            F.date_add(F.to_date(F.max("ts")), 1), "yyyy-MM-dd 00:00:00"
        ).alias("e"),
    ).first()  # bounded: one metadata row
    stream = (
        spark.readStream.format("xmlapi")
        .option(
            "fetcher",
            "etl_portofolio_spark.sources.xmlapi_fixture:fetch_events_csv",
        )
        .option("url", _os.path.join(sf_dir, "events.parquet"))
        .option("starttime", b["s"])
        .option("endtime", b["e"])
        .option("windowminutes", "1440")
        .load()
    )
    # no countDistinct: distinct aggregates are unsupported on streams
    # (the batch face carries the n_clients evidence)
    agg = stream.groupBy(F.col("appId_String").alias("app_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("transactions").cast("long").alias("sum_tx"),
        F.sum("throughput").cast("long").alias("sum_tp"),
    )
    sink = "r7b_xmlstream_" + hashlib.md5(
        (sf_dir + b["s"] + b["e"]).encode()
    ).hexdigest()[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


_XMLAPI_STREAM_SQL = oracle_bigint(
    """
SELECT event_type AS app_id,
       COUNT(*) AS n_rows,
       SUM(event_id % 100) AS sum_tx,
       SUM(event_id % 1000) AS sum_tp
FROM events
GROUP BY event_type
""",
    "sum_tx",
    "sum_tp",
)

ROUND7B_QUERIES["xml_api_stream_oracle"] = (
    q_xml_api_stream_oracle,
    _XMLAPI_STREAM_SQL,
)


# ---------------------------------------------------------------------------
# incremental_runner_ingest — the §2.8 micro-batch runner, oracle-gated
# ---------------------------------------------------------------------------


def q_incremental_runner_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's driver micro-batch loop (§2.8,
    `Ingestion Data (MySQL).py:99-130` / `Processing Data.py:97-120`)
    under the oracle gate: ``IncrementalRunner`` ingests events in
    12-HOUR windows into a daily-``ds`` warehouse — windows FINER than
    the partition key, so the first window of a day dynamic-overwrites
    it and the second appends — then a second run RESUMES from the
    partition-layout watermark (re-running the watermark day, which
    must replace rather than duplicate).  The query answers from the
    warehouse; the oracle recomputes from source — equality proves
    window slicing, the K4 overwrite/append split, watermark resume,
    and re-run idempotency in one artifact.

    Scale design: each window writes only its own partitions; the
    watermark is an O(#partitions) directory listing (the table IS the
    state — no state store); the readback is one combinable aggregate.
    Only day-boundary arithmetic is driver-side.
    """
    from datetime import datetime, timedelta

    from etl_portofolio_spark.fixtures import ensure_fixture
    from etl_portofolio_spark.streaming.incremental import IncrementalRunner

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        # days and bounds cross the Python/Spark boundary as strings, read
        # in the session zone: a naive datetime literal is converted with
        # the host's zone
        b = ev.agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd").alias("lo"),
            F.date_format(F.max("ts"), "yyyy-MM-dd").alias("hi"),
        ).first()
        start = datetime.strptime(b["lo"], "%Y-%m-%d")
        end = datetime.strptime(b["hi"], "%Y-%m-%d") + timedelta(days=1)

        def bound(t: datetime):
            return F.lit(str(t)).cast("timestamp")

        runner = IncrementalRunner(
            spark,
            source=lambda s, e: ev.where(
                (F.col("ts") >= bound(s)) & (F.col("ts") < bound(e))
            ),
            target_path=tmp,
            transform=lambda df: df.withColumn(
                "ds", F.date_format("ts", "yyyyMMdd")
            ),
        )
        mid = start + timedelta(days=max((end - start).days // 2, 1))
        runner.run(start, mid, timedelta(hours=12))
        # resume: picks up at the watermark day and re-runs it — the
        # dynamic overwrite must replace, never duplicate
        runner.run_from_watermark(
            end, timedelta(hours=12), default_start=start
        )

    path = ensure_fixture(sf_dir, "incremental_ingest", _build)
    wh = spark.read.parquet(path)
    return wh.groupBy(F.col("ds").cast("string").alias("ds")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.max("event_id").alias("max_event_id"),
    )


_INCR_SQL = """
SELECT strftime(ts, '%Y%m%d') AS ds,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       MAX(event_id) AS max_event_id
FROM events
GROUP BY 1
"""

ROUND7B_QUERIES["incremental_runner_ingest"] = (
    q_incremental_runner_ingest,
    _INCR_SQL,
)


# ---------------------------------------------------------------------------
# overwrite_table_roundtrip — K2 full overwrite, oracle-gated
# ---------------------------------------------------------------------------


def q_overwrite_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2, the reference's unpartitioned full overwrite
    (`Ingestion Data (MySQL).py:52-57`), under the gate: a STALE
    half-table is written first, then the production ``overwrite_table``
    replaces it with the full snapshot — the query answers from the
    store, so any append-instead-of-replace or partial overwrite
    surfaces as extra/missing rows against the source oracle.

    Scale design: one full-snapshot write (the K2 contract — this is
    the small-dimension refresh pattern, not the fact path), one
    combinable aggregate on readback.
    """
    import os as _os

    from etl_portofolio_spark.fixtures import ensure_fixture
    from etl_portofolio_spark.sinks.writer import overwrite_table

    def _build(tmp: str) -> None:
        target = _os.path.join(tmp, "t")
        cust = load_table(spark, sf_dir, "customer")
        # stale state: half the rows — the overwrite must fully replace
        overwrite_table(cust.where(F.col("c_custkey") % 2 == 0), target)
        overwrite_table(cust, target)
        open(_os.path.join(tmp, "_SUCCESS"), "w").close()

    root = ensure_fixture(sf_dir, "overwrite_k2", _build)
    t = spark.read.parquet(_os.path.join(root, "t"))
    return t.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


_K2_SQL = """
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_rows,
       MIN(c_custkey) AS min_key,
       MAX(c_custkey) AS max_key
FROM customer
GROUP BY c_mktsegment
"""

ROUND7B_QUERIES["overwrite_table_roundtrip"] = (
    q_overwrite_table_roundtrip,
    _K2_SQL,
)


# ---------------------------------------------------------------------------
# ivf_cell_balance — ANN index health: inverted-list size audit
# ---------------------------------------------------------------------------


def q_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index operations: the size of every IVF inverted list and
    its share of the corpus (exact permille) — the balance audit run
    after every index build, because one oversized cell silently turns
    nprobe=1 searches into near-brute-force scans and starves recall
    on the rest.  Assignment reuses ``operators.similarity.ivf_assign``
    (broadcast codebook, map-side argmax, lowest-centroid tiebreak) —
    the same plan the gated ``ann_ivf_topk`` search uses, so this
    audits the REAL index, not a re-derivation.

    Scale design: one corpus scan for assignment, an 8-group
    aggregate, and share arithmetic over the 8-row frame (the window
    sees cells, never vectors).
    """
    from etl_portofolio_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cells = (
        ivf_assign(emb)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    total = Window.partitionBy()
    return cells.select(
        "cluster_id",
        "n_vecs",
        F.expr("n_vecs * 1000").cast("long").alias("__num"),
        F.sum("n_vecs").over(total).alias("__tot"),
    ).select(
        "cluster_id",
        "n_vecs",
        F.expr("__num div __tot").cast("long").alias("share_permille"),
    )


_IVF_BALANCE_SQL = oracle_bigint(
    f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), cents AS (
  SELECT vec_id AS centroid_id, v AS cv FROM v WHERE vec_id < 8
), assigned AS (
  SELECT vec_id, centroid_id AS cluster_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {{cos}} DESC, c.centroid_id ASC) AS rn
    FROM v, cents c
  ) WHERE rn = 1
), cells AS (
  SELECT cluster_id, COUNT(*) AS n_vecs FROM assigned GROUP BY cluster_id
)
SELECT cluster_id, n_vecs,
       (n_vecs * 1000) // SUM(n_vecs) OVER () AS share_permille
FROM cells
""".format(cos=_sql_cosine("v.v", "c.cv")),
    "share_permille",
)

ROUND7B_QUERIES["ivf_cell_balance"] = (q_ivf_cell_balance, _IVF_BALANCE_SQL)


# ---------------------------------------------------------------------------
# tombstone_delete_audit — right-to-be-forgotten sweep with proof
# ---------------------------------------------------------------------------


def q_tombstone_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-ops delete sweep: a tombstone list (deletion-request
    users, here the deterministic ``user_id % 97 = 0`` cohort) is
    applied to the events table with a broadcast ANTI join, and the
    audit row proves the sweep — rows before/after, rows removed,
    distinct tombstoned users that HAD data, and the leak count after
    the delete (must be 0; the gate hashes it).

    Scale design: the tombstone list broadcasts (deletion requests are
    always small relative to facts); the sweep is one anti join at
    scan speed; both audit aggregates are single combinable passes.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    tombstones = (
        ev.select("user_id").where(F.col("user_id") % 97 == 0).distinct()
    )
    cleaned = ev.join(F.broadcast(tombstones), "user_id", "left_anti")
    before = ev.agg(
        F.count(F.lit(1)).alias("n_before"),
        F.countDistinct(
            F.when(F.col("user_id") % 97 == 0, F.col("user_id"))
        ).alias("n_tombstoned_users"),
    )
    after = cleaned.agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum(
            F.when(F.col("user_id") % 97 == 0, 1).otherwise(0)
        ).alias("n_leaked"),
    )
    return before.crossJoin(after).select(
        "n_before",
        "n_after",
        (F.col("n_before") - F.col("n_after")).alias("n_removed"),
        "n_tombstoned_users",
        F.coalesce(F.col("n_leaked"), F.lit(0)).cast("long").alias("n_leaked"),
    )


_TOMBSTONE_SQL = oracle_bigint(
    """
WITH before AS (
  SELECT COUNT(*) AS n_before,
         COUNT(DISTINCT CASE WHEN user_id % 97 = 0 THEN user_id END)
           AS n_tombstoned_users
  FROM events
), after AS (
  SELECT COUNT(*) AS n_after,
         COALESCE(SUM(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END), 0)
           AS n_leaked
  FROM events WHERE user_id % 97 <> 0
)
SELECT b.n_before, a.n_after,
       b.n_before - a.n_after AS n_removed,
       b.n_tombstoned_users,
       CAST(a.n_leaked AS BIGINT) AS n_leaked
FROM before b, after a
""",
    "n_removed",
    "n_leaked",
)

ROUND7B_QUERIES["tombstone_delete_audit"] = (
    q_tombstone_delete_audit,
    _TOMBSTONE_SQL,
)


# ---------------------------------------------------------------------------
# lag_feature_frame — forecasting feature matrix from the daily series
# ---------------------------------------------------------------------------


def q_lag_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecasting feature matrix: daily revenue with row-lagged
    features (t-1, t-7, t-28 OBSERVATIONS — row-based, as documented)
    and the trailing-7-row sum, all in exact integer cents — what a
    gradient-boosted or linear forecaster trains on.  Missing lags are
    NULL (series head), matching SQL LAG semantics in both engines.

    Scale design: the fact table collapses to the calendar-bounded
    daily frame FIRST (map-side-combinable groupBy); every window runs
    over that ~2.4k-row frame, never over fact rows — the repo's
    bounded-frame window rule.
    """
    from etl_portofolio_spark.plans.analytics_queries import cents

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(cents("o_totalprice")).alias("rev_c"))
    )
    w = Window.orderBy("d")
    w7 = Window.orderBy("d").rowsBetween(-6, 0)
    return daily.select(
        "d",
        "rev_c",
        F.lag("rev_c", 1).over(w).alias("lag1_c"),
        F.lag("rev_c", 7).over(w).alias("lag7_c"),
        F.lag("rev_c", 28).over(w).alias("lag28_c"),
        F.sum("rev_c").over(w7).alias("roll7_c"),
    )


_LAG_SQL = oracle_bigint(
    """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1
)
SELECT d, rev_c,
       LAG(rev_c, 1) OVER (ORDER BY d) AS lag1_c,
       LAG(rev_c, 7) OVER (ORDER BY d) AS lag7_c,
       LAG(rev_c, 28) OVER (ORDER BY d) AS lag28_c,
       SUM(rev_c) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         AS roll7_c
FROM daily
""",
    "rev_c",
    "lag1_c",
    "lag7_c",
    "lag28_c",
    "roll7_c",
)

ROUND7B_QUERIES["lag_feature_frame"] = (q_lag_feature_frame, _LAG_SQL)


# ---------------------------------------------------------------------------
# session_gap_histogram — inter-event gap distribution (log2 buckets)
# ---------------------------------------------------------------------------


def q_session_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution of inter-event gaps per user, in power-of-two
    second buckets — the evidence base for choosing a sessionization
    gap threshold (the knee of this histogram IS the session boundary
    everyone otherwise guesses).  Gap = seconds since the user's
    previous event; bucket = floor(log2(gap)) computed by BIT LENGTH
    (``63 - bit_count`` tricks avoided: the bucket is the exponent of
    the highest set bit, derived with integer comparisons in both
    engines via length of the binary representation).

    Scale design: the lag window partitions BY USER (parallelism =
    user count, the sessionize_events discipline); the histogram is a
    bounded ~32-bucket aggregate.  Zero-gap events (same second) land
    in bucket -1.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    gaps = ev.select(
        (F.col("sec") - F.lag("sec", 1).over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    # floor(log2(gap)) for gap>=1 == bit_length(gap)-1; Spark `bin()`
    # and DuckDB `bit_length(...)` both give it without float log2
    bucket = F.when(F.col("gap") <= 0, F.lit(-1)).otherwise(
        F.length(F.expr("bin(gap)")) - 1
    )
    return (
        gaps.groupBy(bucket.cast("long").alias("gap_bucket_log2"))
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap").alias("min_gap_s"),
            F.max("gap").alias("max_gap_s"),
        )
    )


_GAP_SQL = """
WITH gaps AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - LAG(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (
             PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS gap
  FROM events
)
SELECT CAST(CASE WHEN gap <= 0 THEN -1
            ELSE length(bin(CAST(gap AS BIGINT)))::BIGINT - 1 END AS BIGINT)
         AS gap_bucket_log2,
       COUNT(*) AS n_gaps,
       MIN(gap) AS min_gap_s,
       MAX(gap) AS max_gap_s
FROM gaps
WHERE gap IS NOT NULL
GROUP BY 1
"""

ROUND7B_QUERIES["session_gap_histogram"] = (
    q_session_gap_histogram,
    _GAP_SQL,
)


# ---------------------------------------------------------------------------
# token_length_percentiles_by_source — exact per-group order statistics
# ---------------------------------------------------------------------------


def q_token_length_percentiles_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact p50/p90 document token counts PER SOURCE — the curation
    dashboard's length profile, computed without any per-group sort of
    documents: token counts live on a small bounded domain, so each
    source's distinct-value histogram plus a cumulative window over it
    yields the exact order statistics (k = ceil(q·n), the repo's
    pinned convention).

    Scale design: one map-side tokenize+count pass, a (source, n_tok)
    histogram aggregate, and windows over the histogram frame —
    |sources| × |distinct lengths| rows, never documents.
    """
    from etl_portofolio_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    hist = docs.groupBy("source", "n_tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("n_tok")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("source")
    cum = hist.select(
        "source",
        "n_tok",
        F.sum("c").over(wcum).alias("cc"),
        F.sum("c").over(wall).alias("n"),
    )
    return cum.groupBy("source").agg(
        F.min(
            F.when(
                F.col("cc") >= F.expr("(50 * n + 99) div 100"), F.col("n_tok")
            )
        ).alias("p50_tok"),
        F.min(
            F.when(
                F.col("cc") >= F.expr("(90 * n + 99) div 100"), F.col("n_tok")
            )
        ).alias("p90_tok"),
    )


_LENPCT_SQL = r"""
WITH docs AS (
  SELECT source,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
           AS n_tok
  FROM documents
), hist AS (
  SELECT source, n_tok, COUNT(*) AS c FROM docs GROUP BY source, n_tok
), cum AS (
  SELECT source, n_tok,
         SUM(c) OVER (PARTITION BY source ORDER BY n_tok
                      ROWS UNBOUNDED PRECEDING) AS cc,
         SUM(c) OVER (PARTITION BY source) AS n
  FROM hist
)
SELECT source,
       MIN(CASE WHEN cc >= (50 * n + 99) // 100 THEN n_tok END) AS p50_tok,
       MIN(CASE WHEN cc >= (90 * n + 99) // 100 THEN n_tok END) AS p90_tok
FROM cum
GROUP BY source
"""

ROUND7B_QUERIES["token_length_percentiles_by_source"] = (
    q_token_length_percentiles_by_source,
    _LENPCT_SQL,
)


# ---------------------------------------------------------------------------
# event_burstiness — variance-to-mean of daily counts, exact rationals
# ---------------------------------------------------------------------------


def q_event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each event type: the variance-to-mean ratio of
    its daily counts (VMR > 1 = bursty/clumped, < 1 = regular), the
    load-forecasting and anomaly-baseline statistic — emitted as the
    EXACT integer rational (num, den):
    ``VMR = (n·Σc² − (Σc)²) / (n·Σc)``.  No float exists anywhere.

    Scale design: facts collapse to the (type, day) count frame
    map-side; moments are one combinable aggregate over that bounded
    frame; magnitudes stay far inside int64 (Σc² ≤ days·max_daily²).
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("sum_c"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq_c"),
    )
    return m.select(
        "event_type",
        "n_days",
        "sum_c",
        (
            F.col("n_days") * F.col("sumsq_c") - F.col("sum_c") * F.col("sum_c")
        ).alias("vmr_num"),
        (F.col("n_days") * F.col("sum_c")).alias("vmr_den"),
    )


_BURST_SQL = oracle_bigint(
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       COUNT(*) AS n_days,
       SUM(c) AS sum_c,
       COUNT(*) * SUM(c * c) - SUM(c) * SUM(c) AS vmr_num,
       COUNT(*) * SUM(c) AS vmr_den
FROM daily
GROUP BY event_type
""",
    "sum_c",
    "vmr_num",
    "vmr_den",
)

ROUND7B_QUERIES["event_burstiness"] = (q_event_burstiness, _BURST_SQL)


# ---------------------------------------------------------------------------
# hierarchy_rollup_prefix — fixed-depth BOM rollup via ancestor explode
# ---------------------------------------------------------------------------


def q_hierarchy_rollup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy (bill-of-materials / org-chart) subtree rollup WITHOUT
    iteration: parts form a synthetic tree by decimal prefix
    (parent(k) = k div 10), and each node's subtree aggregate — member
    count and total retail value of every descendant-or-self — comes
    from EXPLODING each row into its ≤8-ancestor chain map-side and
    aggregating by ancestor.  Path enumeration beats iterative
    child→parent propagation whenever depth is bounded: one scan, one
    shuffle, no per-level rounds or checkpoints, and at 100 TB the
    8× row expansion is map-local and combinable.  Output is the
    two-digit subtree roots (bounded frame).

    Integer cents, integer keys; the oracle builds the same ancestor
    chains with hardcoded integer divisions.
    """
    from etl_portofolio_spark.plans.analytics_queries import cents

    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"), cents("p_retailprice").alias("v_c")
    )
    ancestors = F.filter(
        F.array(*[F.expr(f"k div {10**i}") for i in range(8)]),
        lambda a: a > 0,
    )
    exploded = part.select(
        F.explode(ancestors).alias("node"), "v_c"
    )
    return (
        exploded.groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("v_c").alias("subtree_value_c"),
        )
        .where(F.col("node") < 100)
    )


_HIER_SQL = oracle_bigint(
    """
WITH p AS (
  SELECT p_partkey AS k,
         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS v_c
  FROM part
), exploded AS (
  SELECT u.node, v_c
  FROM p, LATERAL unnest([k, k // 10, k // 100, k // 1000, k // 10000,
                          k // 100000, k // 1000000, k // 10000000]) AS u(node)
  WHERE u.node > 0
)
SELECT node, COUNT(*) AS n_members, SUM(v_c) AS subtree_value_c
FROM exploded
GROUP BY node
HAVING node < 100
""",
    "subtree_value_c",
)

ROUND7B_QUERIES["hierarchy_rollup_prefix"] = (
    q_hierarchy_rollup_prefix,
    _HIER_SQL,
)


# ---------------------------------------------------------------------------
# conformal_interval_calibration — distribution-free forecast intervals
# ---------------------------------------------------------------------------


def q_conformal_interval_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal calibration for the naive daily-revenue
    forecaster (prediction = yesterday): the 90th-percentile absolute
    residual q_hat over the calibration series is the
    distribution-free interval half-width, and the reported coverage
    (residuals ≤ q_hat, in exact permille) certifies it — the modern
    uncertainty-quantification step appended to any forecaster.
    q_hat is an exact order statistic (k = ceil(0.9·n), the pinned
    convention) over integer-cents residuals; no float anywhere.

    Scale design: facts collapse map-side to the calendar-bounded
    daily frame; residuals, the cumulative-histogram order statistic,
    and the coverage count all run on that ≤few-thousand-row frame.
    """
    from etl_portofolio_spark.plans.analytics_queries import cents

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(cents("o_totalprice")).alias("rev_c"))
    )
    w = Window.orderBy("d")
    res = daily.select(
        F.abs(F.col("rev_c") - F.lag("rev_c", 1).over(w)).alias("r")
    ).where(F.col("r").isNotNull())
    hist = res.groupBy("r").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = hist.select(
        "r",
        F.sum("c").over(wcum).alias("cc"),
        F.sum("c").over(wall).alias("n"),
    )
    qhat = cum.where(
        F.col("cc") >= F.expr("(90 * n + 99) div 100")
    ).agg(F.min("r").alias("qhat_c"), F.min("n").alias("__n"))
    return (
        res.crossJoin(F.broadcast(qhat))
        .agg(
            F.min("qhat_c").alias("qhat_c"),
            F.min("__n").alias("n_calib"),
            F.expr(
                "CAST(sum(CASE WHEN r <= qhat_c THEN 1 ELSE 0 END) * 1000 "
                "div min(__n) AS BIGINT)"
            ).alias("coverage_permille"),
        )
    )


_CONFORMAL_SQL = oracle_bigint(
    """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1
), res AS (
  SELECT ABS(rev_c - LAG(rev_c, 1) OVER (ORDER BY d)) AS r FROM daily
  QUALIFY r IS NOT NULL
), cum AS (
  SELECT r,
         SUM(COUNT(*)) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS cc,
         SUM(COUNT(*)) OVER () AS n
  FROM res GROUP BY r
), qhat AS (
  SELECT MIN(r) AS qhat_c, MIN(n) AS n_calib
  FROM cum WHERE cc >= (90 * n + 99) // 100
)
SELECT q.qhat_c,
       CAST(q.n_calib AS BIGINT) AS n_calib,
       (SUM(CASE WHEN res.r <= q.qhat_c THEN 1 ELSE 0 END) * 1000)
         // q.n_calib AS coverage_permille
FROM res, qhat q
GROUP BY q.qhat_c, q.n_calib
""",
    "qhat_c",
    "coverage_permille",
)

ROUND7B_QUERIES["conformal_interval_calibration"] = (
    q_conformal_interval_calibration,
    _CONFORMAL_SQL,
)
