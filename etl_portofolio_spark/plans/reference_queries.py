"""Reference-parity queries (SURVEY.md §2) over the fixture tables.

Each function builds the same computation the reference performs, mapped
onto the fixture star schema per FIXTURES.md §C:

- ``events``  plays the ``history`` fact (user_id↔item, ts↔clock),
- ``customer`` plays the ``tb_h`` host bridge,
- ``nation``⋈``region`` plays the ``tb_r`` remotes dim,
- ``part`` plays the ``tb_i`` items dim (regex-extractable strings),
- event_type click/view plays the net.if in/out direction.

Every computed column is aliased identically in the Spark plan and the
DuckDB oracle (driver hash-matches by column name).

Scale notes are inline: dims are broadcast, facts are filtered before the
join so pushdown reaches the parquet scan, and the direction pivot is one
conditional aggregate over one fact scan.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.functions import (
    date_parts,
    ds_from_ts,
    epoch_to_ts_utc7,
    minute_bucket,
    paren_description,
    prefix_before,
    shift_hours,
)

# ---------------------------------------------------------------------------
# dim chain (J1–J3): remotes ⋈ hosts with IN/LIKE residual predicates
# ---------------------------------------------------------------------------


_DIM_CHAIN_SQL = """
SELECT /*+ BROADCAST(n, r) */ c.c_custkey, c.c_name, n.n_name, r.r_name,
       concat_ws(' - ', r.r_name, n.n_name, c.c_name) AS remote_key
FROM {customer} c
JOIN {nation} n ON c.c_nationkey = n.n_nationkey
JOIN {region} r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('ASIA', 'EUROPE') AND n.n_name NOT LIKE 'A%'
"""


#: The dim chain's tables, bound by name in ``_DIM_CHAIN_SQL``.
DIM_TABLES = ("customer", "nation", "region")


def _dim_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⋈nation⋈region dim chain with residual filters.

    Mirrors ``Processing Data.py:173-182``: small dims first with IN-list
    and NOT LIKE residuals, composite display key via concat. One
    statement over the scans passed as DataFrame arguments. Both dims are
    broadcast — no shuffle for the dim chain at any scale; the only
    shuffle-free fact join this feeds is also broadcast.
    """
    return spark.sql(
        _DIM_CHAIN_SQL, **{t: load_table(spark, sf_dir, t) for t in DIM_TABLES}
    )


def q_dim_chain_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1–J3 + P7/P8 + F3: the dim chain as a standalone checkable query."""
    return _dim_chain(spark, sf_dir)


ORACLE_DIM_CHAIN = """
SELECT c.c_custkey, c.c_name, n.n_name, r.r_name,
       concat_ws(' - ', r.r_name, n.n_name, c.c_name) AS remote_key
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('ASIA', 'EUROPE') AND n.n_name NOT LIKE 'A%'
"""


# ---------------------------------------------------------------------------
# flagship: daily throughput pivot (Processing Data.py end to end)
# ---------------------------------------------------------------------------


#: Formatted twice: ``{window}`` here, then ``{events}`` and ``{dim}`` by
#: ``spark.sql``, which binds them to DataFrame arguments.
_FLAGSHIP_SQL = """
SELECT user_id, remote_key, menit_ts, value_in, value_out,
       value_in + value_out AS value_total,
       date_format(menit_ts, 'yyyyMMdd') AS ds,
       date_format(menit_ts, 'dd') AS tanggal,
       date_format(menit_ts, 'HH') AS jam,
       date_format(menit_ts, 'mm') AS menit
FROM (
  SELECT /*+ BROADCAST(d) */ e.user_id, d.remote_key,
         date_trunc('minute', e.ts) AS menit_ts,
         max(CASE WHEN e.event_type = 'click' THEN e.value END) AS value_in,
         max(CASE WHEN e.event_type = 'view' THEN e.value END) AS value_out
  FROM {{events}} e JOIN {{dim}} d ON e.user_id = d.c_custkey
  WHERE e.event_type IN ('click', 'view'){window}
  GROUP BY e.user_id, d.remote_key, date_trunc('minute', e.ts),
           CASE WHEN e.ts IS NULL THEN e.event_type END
)
"""

_WINDOW = " AND e.ts >= CAST(:lo AS TIMESTAMP) AND e.ts < CAST(:hi AS TIMESTAMP)"


def q_flagship_throughput_pivot(
    spark: SparkSession,
    sf_dir: str,
    lo: datetime | None = None,
    hi: datetime | None = None,
    dim: DataFrame | None = None,
) -> DataFrame:
    """Flagship: J1–J4 + P3–P10 + A3 + F1–F13 in one plan.

    The reference's daily transform (``Processing Data.py:154-237``):
    join the fact to the dim chain, bucket to the minute, pivot the
    direction, derive in+out total (null-propagating, SURVEY §2.11/F13),
    date parts and ``ds``. The reference pivots by a FULL OUTER join of
    the two directions; here one aggregate takes a conditional ``max``
    per direction. Its key carries ``event_type`` for null minutes only:
    the outer join never matches null keys, so a null-``ts`` click and
    view stay two rows, as in ``ORACLE_FLAGSHIP``.

    ``[lo, hi)`` restricts ``events.ts`` before the dim join; for
    minute-aligned bounds that is the window on ``menit_ts``. The bounds
    are named parameters sent as strings and cast in SQL, so they are read
    in the session time zone, never the host's.

    ``dim`` replaces the dim chain built from ``sf_dir`` (the daily job
    passes the chain it bound once, see ``jobs/process_daily``); it must
    have ``_dim_chain``'s columns.

    Divergence documented per SURVEY §2.11.6: minute bucketing uses
    calendar year (``date_trunc``), not the reference's week-year
    ``'YYYY-…'`` format string.

    Scale: one fact scan carrying the direction and window predicates,
    the dim chain broadcast, one aggregate shuffle.
    """
    window, args = "", None
    if lo is not None or hi is not None:
        window, args = _WINDOW, {"lo": str(lo), "hi": str(hi)}
    return spark.sql(
        _FLAGSHIP_SQL.format(window=window),
        args=args,
        events=load_table(spark, sf_dir, "events"),
        dim=_dim_chain(spark, sf_dir) if dim is None else dim,
    )


ORACLE_FLAGSHIP = """
WITH dim AS (
  SELECT c.c_custkey,
         concat_ws(' - ', r.r_name, n.n_name, c.c_name) AS remote_key
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name IN ('ASIA', 'EUROPE') AND n.n_name NOT LIKE 'A%'
), fact AS (
  SELECT e.user_id, e.event_type, e.value,
         date_trunc('minute', e.ts) AS menit_ts,
         d.remote_key
  FROM events e
  JOIN dim d ON e.user_id = d.c_custkey
  WHERE e.event_type IN ('click', 'view')
), side_in AS (
  SELECT user_id, remote_key, menit_ts, max(value) AS value_in
  FROM fact WHERE event_type = 'click' GROUP BY 1, 2, 3
), side_out AS (
  SELECT user_id, remote_key, menit_ts, max(value) AS value_out
  FROM fact WHERE event_type = 'view' GROUP BY 1, 2, 3
)
SELECT coalesce(i.user_id, o.user_id) AS user_id,
       coalesce(i.remote_key, o.remote_key) AS remote_key,
       coalesce(i.menit_ts, o.menit_ts) AS menit_ts,
       i.value_in AS value_in,
       o.value_out AS value_out,
       i.value_in + o.value_out AS value_total,
       strftime(coalesce(i.menit_ts, o.menit_ts), '%Y%m%d') AS ds,
       strftime(coalesce(i.menit_ts, o.menit_ts), '%d') AS tanggal,
       strftime(coalesce(i.menit_ts, o.menit_ts), '%H') AS jam,
       strftime(coalesce(i.menit_ts, o.menit_ts), '%M') AS menit
FROM side_in i
FULL OUTER JOIN side_out o
  ON i.user_id = o.user_id AND i.remote_key = o.remote_key
 AND i.menit_ts = o.menit_ts
"""


# ---------------------------------------------------------------------------
# ingestion-shaped queries
# ---------------------------------------------------------------------------


def q_ingest_hour_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/P5/F9/F11 shape: one hour-window incremental batch.

    Mirrors the MySQL job's per-hour batch (``Ingestion Data
    (MySQL).py:156-173``): range predicate on the time column (pushed to
    the source scan), unsigned-counter-safe decimal(20,0) cast, +7h epoch
    shift, ``ds`` partition key derivation.

    Scale: the ts range predicate reaches the parquet scan (PushedFilters)
    — on a ds-partitioned production table this is partition pruning; on
    JDBC it is the pushdown subquery plus partitioned reads.
    """
    events = load_table(spark, sf_dir, "events")
    lo, hi = "2024-01-02 00:00:00", "2024-01-02 01:00:00"
    shifted = shift_hours(F.col("ts"))
    return (
        events.where((F.col("ts") >= F.lit(lo).cast("timestamp")) & (F.col("ts") < F.lit(hi).cast("timestamp")))
        .select(
            "event_id",
            "user_id",
            "ts",
            # counter-style value: scaled then cast to decimal(20,0) so an
            # unsigned 64-bit source value cannot overflow a signed long
            # (Ingestion Data (MySQL).py:171). The decimal cast stays
            # in-plan (F9); the emitted leaf is BIGINT because DECIMAL
            # crosses the cross-engine hash boundary unstably (VERDICT r1).
            (F.col("value") * F.lit(1000000))
            .cast(T.DecimalType(20, 0))
            .cast("long")
            .alias("value_counter"),
            shifted.alias("waktu_lokal"),
            ds_from_ts(shifted).alias("ds"),
        )
    )


ORACLE_INGEST_HOUR = """
SELECT event_id, user_id, ts,
       CAST(CAST(round(value * 1000000, 0) AS DECIMAL(20,0)) AS BIGINT) AS value_counter,
       ts + INTERVAL 7 HOUR AS waktu_lokal,
       strftime(ts + INTERVAL 7 HOUR, '%Y%m%d') AS ds
FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
  AND ts <  TIMESTAMP '2024-01-02 01:00:00'
"""


def q_ingest_dateparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML-ingestion shape (S2/S3/F4–F7/F10/F12): ts parse + date parts.

    Mirrors ``Ingestion Data (XML).py:133-148``: select the metric
    columns, shift +7h, then derive the six string date parts the
    reference slices out of a formatted timestamp. Fixture stand-in: the
    events table plays the API payload; event_type plays aplikasi.
    """
    events = load_table(spark, sf_dir, "events")
    shifted = shift_hours(F.col("ts"))
    parts = date_parts(shifted)
    return events.select(
        F.col("event_type").alias("aplikasi"),
        F.col("value").alias("throughput"),
        shifted.alias("waktu"),
        *[parts[k].alias(k) for k in ("waktu_string", "tahun", "bulan", "tanggal", "jam", "menit")],
        ds_from_ts(shifted).alias("ds"),
    )


ORACLE_INGEST_DATEPARTS = """
SELECT event_type AS aplikasi,
       value AS throughput,
       ts + INTERVAL 7 HOUR AS waktu,
       strftime(ts + INTERVAL 7 HOUR, '%d-%m-%Y %H:%M:%S') AS waktu_string,
       strftime(ts + INTERVAL 7 HOUR, '%Y') AS tahun,
       strftime(ts + INTERVAL 7 HOUR, '%m') AS bulan,
       strftime(ts + INTERVAL 7 HOUR, '%d') AS tanggal,
       strftime(ts + INTERVAL 7 HOUR, '%H') AS jam,
       strftime(ts + INTERVAL 7 HOUR, '%M') AS menit,
       strftime(ts + INTERVAL 7 HOUR, '%Y%m%d') AS ds
FROM events
"""


def q_epoch_clock_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F11: epoch-seconds clock math (``Ingestion Data (MySQL).py:173``).

    The fixture has real timestamps; derive an epoch ``clock`` first, then
    reproduce the reference's ``clock + 7*3600 → timestamp → ds`` chain.
    """
    events = load_table(spark, sf_dir, "events")
    clock = F.unix_timestamp("ts")
    local_ts = epoch_to_ts_utc7(clock)
    return events.select(
        "event_id",
        clock.alias("clock"),
        local_ts.alias("waktu_lokal"),
        F.to_date(local_ts).alias("tanggal_lokal"),
        ds_from_ts(local_ts).alias("ds"),
    )


ORACLE_EPOCH_CLOCK = """
WITH c AS (
  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS clock FROM events
)
SELECT event_id,
       clock,
       -- make_timestamp(us) is a NAIVE timestamp; to_timestamp() would be
       -- TIMESTAMPTZ, which the driver's schema/value hash rejects against
       -- Spark's (session-tz=UTC) naive timestamp_seconds (VERDICT r1).
       make_timestamp((clock + 7*3600) * 1000000) AS waktu_lokal,
       CAST(make_timestamp((clock + 7*3600) * 1000000) AS DATE) AS tanggal_lokal,
       strftime(make_timestamp((clock + 7*3600) * 1000000), '%Y%m%d') AS ds
FROM c
"""


# ---------------------------------------------------------------------------
# filters / predicates
# ---------------------------------------------------------------------------


def q_allowlist_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11/J6: broadcast left-semi join against an allowlist.

    The reference filters API rows by a driver-side pandas ``isin``
    against an allowlist CSV (``Ingestion Data (XML).py:41,128``); the
    distributed equivalent is a broadcast left_semi join — no shuffle of
    the big side, allowlist ships once per executor.
    """
    customer = load_table(spark, sf_dir, "customer")
    allow = spark.createDataFrame(
        [("BUILDING",), ("MACHINERY",), ("AUTOMOBILE",)], ["allowed_segment"]
    )
    return (
        customer.join(
            F.broadcast(allow),
            customer.c_mktsegment == allow.allowed_segment,
            "left_semi",
        )
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    )


ORACLE_ALLOWLIST = """
SELECT c_custkey, c_name, c_mktsegment, c_acctbal
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
"""


def q_regex_item_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/P8/P9: LIKE + NOT LIKE + regex-nonempty predicates + extraction.

    Mirrors the items-dim residuals (``Processing Data.py:176-180``): keep
    rows whose type matches a LIKE alternation, exclude a NOT LIKE
    pattern, require a nonempty regex extraction, and emit the extracted
    features (direction-style token, prefix before a delimiter).
    """
    part = load_table(spark, sf_dir, "part")
    first_word = F.regexp_extract(F.col("p_type"), r"^(\w+)\b.*$", 1)
    return (
        part.where(
            (F.col("p_type").like("STANDARD%") | F.col("p_type").like("SMALL%"))
            & ~F.col("p_type").like("%COPPER")
            & (first_word != "")
            & ~F.col("p_name").like("alm%")
        )
        .select(
            "p_partkey",
            "p_name",
            "p_type",
            first_word.alias("type_class"),
            prefix_before(F.col("p_name"), " ").alias("name_prefix"),
            paren_description(F.col("p_brand"), r"^Brand#(\d+)$").alias("brand_num"),
        )
    )


ORACLE_REGEX_ITEMS = """
SELECT p_partkey, p_name, p_type,
       regexp_extract(p_type, '^(\\w+)\\b.*$', 1) AS type_class,
       CASE WHEN strpos(p_name, ' ') > 0
            THEN substr(p_name, 1, strpos(p_name, ' ') - 1)
            ELSE p_name END AS name_prefix,
       regexp_extract(p_brand, '^Brand#(\\d+)$', 1) AS brand_num
FROM part
WHERE (p_type LIKE 'STANDARD%' OR p_type LIKE 'SMALL%')
  AND p_type NOT LIKE '%COPPER'
  AND regexp_extract(p_type, '^(\\w+)\\b.*$', 1) <> ''
  AND p_name NOT LIKE 'alm%'
"""


def q_watermark_max_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/A2: partition watermark = max ds.

    The reference derives "last ingested day" from ``SHOW PARTITIONS``
    sorted descending (``Ingestion Data (MySQL).py:23-31``); the
    engine-native form is a max aggregate over the ds key. On a
    partitioned table this is metadata-only; here it is a single-column
    scan + partial max — no full shuffle (one-row exchange).
    """
    events = load_table(spark, sf_dir, "events")
    return events.select(ds_from_ts(F.col("ts")).alias("ds")).agg(
        F.max("ds").alias("max_ds")
    )


ORACLE_WATERMARK = """
SELECT max(strftime(ts, '%Y%m%d')) AS max_ds FROM events
"""


def q_direction_pivot_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 idiomatic variant: groupBy().pivot() instead of full-outer join.

    Same output contract as the full-join pivot for the directions
    present, expressed as one hash aggregate — one shuffle instead of
    two aggregates + a join. This is the shape the engine prefers at
    scale; the full-join variant exists for exact reference parity.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(F.col("event_type").isin("click", "view"))
        .select("user_id", minute_bucket("ts").alias("menit_ts"), "event_type", "value")
        .groupBy("user_id", "menit_ts")
        .pivot("event_type", ["click", "view"])
        .agg(F.max("value"))
        .withColumnsRenamed({"click": "value_in", "view": "value_out"})
        .select(
            "user_id",
            "menit_ts",
            "value_in",
            "value_out",
            (F.col("value_in") + F.col("value_out")).alias("value_total"),
        )
    )


ORACLE_PIVOT_GROUPBY = """
SELECT user_id,
       date_trunc('minute', ts) AS menit_ts,
       max(CASE WHEN event_type = 'click' THEN value END) AS value_in,
       max(CASE WHEN event_type = 'view' THEN value END) AS value_out,
       max(CASE WHEN event_type = 'click' THEN value END)
         + max(CASE WHEN event_type = 'view' THEN value END) AS value_total
FROM events
WHERE event_type IN ('click', 'view')
GROUP BY 1, 2
"""


def q_empty_gate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: count action used as the empty-batch write gate.

    ``Ingestion Data (MySQL).py:172,175`` counts the batch twice (no
    cache); the engine computes counts once, grouped, in one pass.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


ORACLE_EMPTY_GATE = """
SELECT event_type, count(*) AS n_rows FROM events GROUP BY event_type
"""


def q_topn_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1–O3: ORDER BY DESC + top-N (the reference's collect()[0] watermark).

    Deterministic tie-break on event_id so the top-N set is stable.
    Scale: Spark executes sort+limit as a TakeOrdered — per-partition
    top-N then a single-driver merge of N·partitions rows, no full sort.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.orderBy(F.col("ts").desc(), F.col("event_id").asc())
        .select("event_id", "ts", "user_id", "event_type", "value")
        .limit(20)
    )


ORACLE_TOPN = """
SELECT event_id, ts, user_id, event_type, value
FROM events
ORDER BY ts DESC, event_id ASC
LIMIT 20
"""


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 made reproducible: modulus sample instead of Bernoulli.

    The reference's ``df.sample(False, 0.1, None)`` (``Ingestion Data
    (MySQL).py:35``) is nondeterministic by construction; the engine's
    size-estimation sample is a deterministic key-modulus slice so reruns
    and oracle checks agree.
    """
    events = load_table(spark, sf_dir, "events")
    return events.where(F.col("event_id") % 10 == 0).select(
        "event_id", "user_id", "event_type", "value"
    )


ORACLE_SAMPLE = """
SELECT event_id, user_id, event_type, value
FROM events WHERE event_id % 10 = 0
"""


#: name -> (query_fn, oracle_sql)
REFERENCE_QUERIES = {
    "flagship_throughput_pivot": (q_flagship_throughput_pivot, ORACLE_FLAGSHIP),
    "dim_chain_join": (q_dim_chain_join, ORACLE_DIM_CHAIN),
    "ingest_hour_window": (q_ingest_hour_window, ORACLE_INGEST_HOUR),
    "ingest_dateparts": (q_ingest_dateparts, ORACLE_INGEST_DATEPARTS),
    "epoch_clock_ingest": (q_epoch_clock_ingest, ORACLE_EPOCH_CLOCK),
    "allowlist_semi_join": (q_allowlist_semi_join, ORACLE_ALLOWLIST),
    "regex_item_features": (q_regex_item_features, ORACLE_REGEX_ITEMS),
    "watermark_max_ds": (q_watermark_max_ds, ORACLE_WATERMARK),
    "direction_pivot_groupby": (q_direction_pivot_groupby, ORACLE_PIVOT_GROUPBY),
    "empty_gate_counts": (q_empty_gate_counts, ORACLE_EMPTY_GATE),
    "topn_latest": (q_topn_latest, ORACLE_TOPN),
    "deterministic_sample": (q_deterministic_sample, ORACLE_SAMPLE),
}
