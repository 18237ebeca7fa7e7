"""Round-5 fourth/fifth waves: product analytics, warehouse shapes, QA.

Cohort retention, revenue autocorrelation, SCD2 build + point-in-time
join, table profiling, supplier-concentration HHI, Zipf fit,
hard-negative mining, language-ID confusion, per-source dup rates and
label-centroid separation — keyed DataFrame compositions with exact
DuckDB oracles.  (Funnel and Markov-transition shapes already lived in
``analytics_queries`` / ``advanced_queries``; this module deliberately
does not duplicate them.)

Determinism: timestamps compare exactly (no float epochs on the join
path), counts are integers, double sums route through DECIMAL
accumulators, transcendentals round to 6 before any rank or emission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table

#: week index anchor — a constant DATE, so the week bucketing is plain
#: integer datediff arithmetic in both engines
_COHORT_EPOCH = "2024-01-01"


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle: users grouped by first-active
    week, share still active k weeks later — the growth-analytics
    matrix every event warehouse serves.

    Shape at scale: first-active week is one combinable groupBy on
    user (min over ts); the activity set dedups to (user, week) pairs
    BEFORE any join (shrinking the fact stream to its distinct
    behavioral grain); the cohort join is an equi-join on user_id —
    key-partitioned all the way, the triangle itself is
    O(weeks²) rows.  Cohort sizes attach by a second tiny equi-join
    on the cohort week (broadcast — it is |weeks| rows).
    Week index = days-since-anchor DIV 7: integer arithmetic, no
    calendar-week convention to disagree on.
    """
    events = load_table(spark, sf_dir, "events")
    # floor(), not cast("long"): cast truncates toward zero, so a
    # pre-epoch event (negative datediff) would land one week late vs
    # the oracle's floor-division `//` semantics
    week = F.floor(
        F.datediff(F.to_date("ts"), F.lit(_COHORT_EPOCH).cast("date")) / 7
    ).cast("long")
    user_weeks = events.select(
        "user_id", week.alias("week")
    ).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    cohort_sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    active = (
        user_weeks.join(cohorts, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        active.join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "n_cohort",
            F.round(
                F.col("n_active").cast("double") / F.col("n_cohort").cast("double"),
                6,
            ).alias("retention"),
        )
    )


ORACLE_COHORT_RETENTION = f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(datediff('day', DATE '{_COHORT_EPOCH}', CAST(ts AS DATE)) // 7
              AS BIGINT) AS week
  FROM events
), cohorts AS (
  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
), sizes AS (
  SELECT cohort_week, count(*) AS n_cohort FROM cohorts GROUP BY cohort_week
), active AS (
  SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
         count(DISTINCT uw.user_id) AS n_active
  FROM uw JOIN cohorts c USING (user_id)
  GROUP BY 1, 2
)
SELECT a.cohort_week, a.week_offset, a.n_active, s.n_cohort,
       round(CAST(a.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE), 6)
         AS retention
FROM active a JOIN sizes s USING (cohort_week)
"""


ROUND5H_QUERIES: dict = {
    "cohort_retention": (q_cohort_retention, ORACLE_COHORT_RETENTION),
}


# ---------------------------------------------------------------------------
# Lag-k autocorrelation of daily revenue: the seasonality detector
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 7, 14)


def q_revenue_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson autocorrelation of the daily-revenue series at lags
    1/7/14 — the seasonality detector run before picking a forecast
    model or an anomaly baseline (a strong lag-7 says the z-score
    window must be day-of-week aware).

    Shape: the fact table collapses to the calendar-bounded day frame
    first (the only big shuffle — identical to
    ``daily_revenue_anomaly``); each lag is one ``lag()`` over the
    day-ordered frame plus ONE aggregation whose six sums (n, Σx, Σy,
    Σxy, Σx², Σy²) all accumulate integer cents in DECIMAL(38,0) —
    exact, order-independent.  The Pearson r is a single double
    expression from those exact scalars, rounded to 6.  Lags union
    into a 3-row report.
    """
    from pyspark.sql import Window

    from etl_portofolio_spark.plans.analytics_queries import cents

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("x")
    )
    w = Window.orderBy("day")
    out = None
    for k in _ACF_LAGS:
        pairs = daily.select(
            F.col("x").cast("decimal(38,0)").alias("x"),
            F.lag("x", k).over(w).cast("decimal(38,0)").alias("y"),
        ).where(F.col("y").isNotNull())
        sums = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        n = F.col("n").cast("double")
        num = n * F.col("sxy").cast("double") - F.col("sx").cast(
            "double"
        ) * F.col("sy").cast("double")
        den = F.sqrt(
            (n * F.col("sxx").cast("double") - F.pow(F.col("sx").cast("double"), 2))
            * (n * F.col("syy").cast("double") - F.pow(F.col("sy").cast("double"), 2))
        )
        row = sums.select(
            F.lit(k).alias("lag_days"),
            F.col("n").alias("n_pairs"),
            F.round(num / den, 6).alias("autocorr"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _oracle_acf() -> str:
    parts = []
    for k in _ACF_LAGS:
        parts.append(f"""
SELECT {k} AS lag_days, count(*) AS n_pairs,
       round((count(*) * CAST(sum(x * y) AS DOUBLE)
              - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
             / sqrt((count(*) * CAST(sum(x * x) AS DOUBLE)
                     - pow(CAST(sum(x) AS DOUBLE), 2))
                    * (count(*) * CAST(sum(y * y) AS DOUBLE)
                       - pow(CAST(sum(y) AS DOUBLE), 2))), 6) AS autocorr
FROM (
  SELECT CAST(x AS DECIMAL(38,0)) AS x,
         CAST(lag(x, {k}) OVER (ORDER BY day) AS DECIMAL(38,0)) AS y
  FROM (
    SELECT o_orderdate AS day,
           sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
    FROM orders GROUP BY 1
  )
) WHERE y IS NOT NULL""")
    return " UNION ALL ".join(parts)


ROUND5H_QUERIES["revenue_autocorrelation"] = (
    q_revenue_autocorrelation,
    _oracle_acf(),
)


# ---------------------------------------------------------------------------
# SCD2 build: versioned state intervals from an event stream
# ---------------------------------------------------------------------------


def q_user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from raw events: each
    user's event-type runs collapse into versioned validity intervals
    [valid_from, valid_to) with an is_current flag — the dimension
    shape every point-in-time join consumes, built from the append-only
    log (the reference's MySQL snapshots would feed the same
    construction via the CDC diff).

    Change points come from ``lag()`` over the per-user time window
    (parallel across users, event_id tie-break); ``lead()`` over the
    CHANGE-POINT frame closes each interval at the next version's
    start; ``row_number`` numbers versions.  Three window functions,
    ONE partitioning (user_id) — Catalyst plans them in one sort of
    one exchange; nothing global, nothing quadratic.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("state"),
        (
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type"))
        ).alias("is_change"),
    )
    points = flagged.where("is_change")
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return points.select(
        "user_id",
        F.row_number().over(w2).alias("version"),
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


ORACLE_USER_SCD2 = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type AS state,
         (lag(event_type) OVER w IS NULL
          OR lag(event_type) OVER w <> event_type) AS is_change
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), points AS (
  SELECT * FROM flagged WHERE is_change
)
SELECT user_id,
       CAST(row_number() OVER w2 AS INTEGER) AS version,
       state,
       ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       (lead(ts) OVER w2 IS NULL) AS is_current
FROM points
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


ROUND5H_QUERIES["user_state_scd2"] = (q_user_state_scd2, ORACLE_USER_SCD2)


# ---------------------------------------------------------------------------
# Point-in-time join against the SCD2 dimension
# ---------------------------------------------------------------------------


def q_pit_state_at_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: for every purchase, the browsing state
    (the SCD2 interval built from NON-purchase events) governing the
    purchase instant, aggregated to (state → purchases, buyers).
    This is the feature-store correctness shape — joining facts to the
    dimension version that was true AT the fact's timestamp, never the
    current one (the classic leakage bug in training-data assembly).

    The interval join is an EQUI-join on user_id with the validity
    residual applied inside the join — both sides partition on the
    same key, fan-out bounded by versions-per-user, no range blow-up.
    Each purchase matches at most one interval (intervals partition
    the timeline per user), so no dedup pass is needed; purchases
    before the user's first state event drop (inner join), which the
    oracle mirrors.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    browse = events.where(F.col("event_type") != "purchase")
    flagged = browse.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("state"),
        (
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type"))
        ).alias("is_change"),
    )
    intervals = flagged.where("is_change").select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("valid_to"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    matched = purchases.join(intervals, "user_id").where(
        (F.col("p_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("p_ts") < F.col("valid_to")))
    )
    return matched.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.countDistinct("user_id").alias("n_buyers"),
    )


ORACLE_PIT_STATE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type AS state,
         (lag(event_type) OVER w IS NULL
          OR lag(event_type) OVER w <> event_type) AS is_change
  FROM events WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), intervals AS (
  SELECT user_id, state, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM flagged WHERE is_change
), purchases AS (
  SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
)
SELECT i.state, count(*) AS n_purchases,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_buyers
FROM purchases p JOIN intervals i ON p.user_id = i.user_id
WHERE p.p_ts >= i.valid_from
  AND (i.valid_to IS NULL OR p.p_ts < i.valid_to)
GROUP BY i.state
"""


ROUND5H_QUERIES["pit_state_at_purchase"] = (
    q_pit_state_at_purchase,
    ORACLE_PIT_STATE,
)


# ---------------------------------------------------------------------------
# Hard-negative mining: contrastive-training pair generation
# ---------------------------------------------------------------------------


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hard negatives (most similar, different label) for a
    5-anchor panel — the pair-mining pass that assembles contrastive
    training batches for an embedding model (`operators/similarity.
    hard_negative_mining`; broadcast panel, corpus never shuffles)."""
    from etl_portofolio_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negative_mining(emb, anchor_ids=(0, 1, 2, 3, 4), k=5)


def _oracle_hard_negatives() -> str:
    from etl_portofolio_spark.plans.pipeline_queries import _sql_cosine

    return f"""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, v AS av
  FROM v WHERE vec_id IN (0, 1, 2, 3, 4)
), scored AS (
  SELECT a.anchor_id, a.anchor_label, v.vec_id AS negative_id,
         v.label AS negative_label,
         round({_sql_cosine('a.av', 'v.v')}, 6) AS cosine
  FROM v, a WHERE v.label <> a.anchor_label
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cosine DESC, negative_id ASC) AS rank
  FROM scored
)
SELECT anchor_id, anchor_label, negative_id, negative_label, cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


ROUND5H_QUERIES["hard_negative_mining"] = (
    q_hard_negative_mining,
    _oracle_hard_negatives(),
)


# ---------------------------------------------------------------------------
# Language-ID confusion matrix: declared vs detected
# ---------------------------------------------------------------------------


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of declared language metadata against the
    n-gram language detector — the trust audit for upstream `lang`
    tags (a crawl whose declared tags disagree with detection is
    routed to re-tagging before any per-language quality gates run).

    Reuses the exact ``text.langid_scores``/``langid_pick`` path of
    ``text_langid`` (same argmax, same tie-break) and collapses it to
    one combinable groupBy over the |langs|² domain; the per-declared
    row share attaches as a window sum over that tiny frame.
    """
    from pyspark.sql import Window

    from etl_portofolio_spark.operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    toks = text_ops.tokens(F.col("text"))
    scores = text_ops.langid_scores(toks)
    labeled = docs.select(
        F.col("lang").alias("declared_lang"),
        text_ops.langid_pick(scores).alias("predicted_lang"),
    )
    cm = labeled.groupBy("declared_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("declared_lang")
    return cm.select(
        "declared_lang",
        "predicted_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double"),
            6,
        ).alias("share_of_declared"),
    )


def _oracle_langid_confusion() -> str:
    from etl_portofolio_spark.plans.pipeline_queries import _sql_langid

    return f"""
WITH labeled AS (
  SELECT lang AS declared_lang, predicted_lang
  FROM ({_sql_langid()})
), cm AS (
  SELECT declared_lang, predicted_lang, count(*) AS n_docs
  FROM labeled GROUP BY 1, 2
)
SELECT declared_lang, predicted_lang, n_docs,
       round(CAST(n_docs AS DOUBLE)
             / CAST(sum(n_docs) OVER (PARTITION BY declared_lang)
                    AS DOUBLE), 6) AS share_of_declared
FROM cm
"""


ROUND5H_QUERIES["langid_confusion"] = (
    q_langid_confusion,
    _oracle_langid_confusion(),
)


# ---------------------------------------------------------------------------
# Dedup rate by source: which feed is redundant
# ---------------------------------------------------------------------------


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate share per source feed — the dedup observability
    cut that decides WHICH crawl gets renegotiated (a source whose
    docs are 40% dups wastes 40% of its ingest, storage and dedup
    compute before a single token trains).

    Content identity is the engine's standard md5 hash computed at
    scan; two combinable aggregations (per (source, hash) then per
    source) — the same two-level discipline as ``table_profile``'s
    distincts, never a countDistinct Expand next to other aggregates.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_hash = docs.select(
        "source", F.md5(F.col("text")).alias("h")
    ).groupBy("source", "h").agg(F.count(F.lit(1)).alias("n"))
    return per_hash.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum("n") - F.count(F.lit(1))).alias("n_dup_docs"),
        F.round(
            (F.sum("n") - F.count(F.lit(1))).cast("double")
            / F.sum("n").cast("double"),
            6,
        ).alias("dup_share"),
    )


ORACLE_DEDUP_RATE = """
WITH per_hash AS (
  SELECT source, md5(text) AS h, count(*) AS n
  FROM documents GROUP BY 1, 2
)
SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       count(*) AS n_unique,
       CAST(sum(n) - count(*) AS BIGINT) AS n_dup_docs,
       round(CAST(sum(n) - count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
         AS dup_share
FROM per_hash GROUP BY source
"""


ROUND5H_QUERIES["dedup_rate_by_source"] = (
    q_dedup_rate_by_source,
    ORACLE_DEDUP_RATE,
)


# ---------------------------------------------------------------------------
# Label-centroid separation: are the embedding labels actually separable?
# ---------------------------------------------------------------------------


def q_label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids — the
    label-quality audit before training a classifier on them (two
    labels whose centroids sit at cosine ≈ 1 are indistinguishable to
    a linear probe; hard negatives between them dominate).

    Order-independence is the whole trick: a per-dimension mean of
    doubles would sum in shuffle order, so each vector's components
    round to 12 into DECIMAL(38,12) at posexplode time and the
    per-(label, dim) sums are EXACT; centroids stay decimal until the
    |labels|·|dims| frame (tiny) self-joins on the dimension index and
    the cosine's dot/norm fold runs as one more exact decimal
    aggregation, converting to double only for the final
    divide-and-sqrt, rounded to 6.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.round(F.col("x").cast("double"), 12).cast("decimal(38,12)").alias("x"),
    )
    cent = comps.groupBy("label", "dim").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n")
    ).select(
        "label",
        "dim",
        # mean as DOUBLE of exact sums — identical tree both engines
        (F.col("sx").cast("double") / F.col("n").cast("double")).alias("c"),
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.round(F.col("ca") * F.col("cb"), 12).cast("decimal(38,12)")
            ).alias("dot"),
            F.sum(
                F.round(F.col("ca") * F.col("ca"), 12).cast("decimal(38,12)")
            ).alias("na"),
            F.sum(
                F.round(F.col("cb") * F.col("cb"), 12).cast("decimal(38,12)")
            ).alias("nb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("na").cast("double"))
                * F.sqrt(F.col("nb").cast("double"))
            ),
            6,
        ).alias("centroid_cosine"),
    )


ORACLE_CENTROID_SEP = """
WITH comps AS (
  SELECT label, i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE), 12) AS DECIMAL(38,12)) AS x
  FROM embeddings,
       LATERAL unnest(generate_series(1, len(embedding))) u(i)
), cent AS (
  SELECT label, dim,
         CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS c
  FROM comps GROUP BY 1, 2
), pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(CAST(round(a.c * b.c, 12) AS DECIMAL(38,12))) AS dot,
         sum(CAST(round(a.c * a.c, 12) AS DECIMAL(38,12))) AS na,
         sum(CAST(round(b.c * b.c, 12) AS DECIMAL(38,12))) AS nb
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
)
SELECT label_a, label_b,
       round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
         AS centroid_cosine
FROM pairs
"""


ROUND5H_QUERIES["label_centroid_separation"] = (
    q_label_centroid_separation,
    ORACLE_CENTROID_SEP,
)


# ---------------------------------------------------------------------------
# Table profile: the Deequ-style per-column profiling report
# ---------------------------------------------------------------------------

#: (column, normalized-expression builder) — values profile as strings
#: so one report row type covers every column; numerics normalize to
#: integer cents/keys first (integer→string renders identically in
#: both engines; raw double→string would not)
_PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profiling report over orders: rows, nulls (with the
    reference's '4-NOT SPECIFIED' sentinel normalized to NULL the way
    a silver view would), exact distinct count, lexical min/max — the
    data-profiling pass run when a new feed lands, before any contract
    is written for it.

    One combinable wide aggregation carries rows/nulls/min/max for ALL
    columns in a single scan; the exact distinct counts run as one
    narrow two-level aggregation PER column (groupBy the column, then
    count) — deliberately NOT k countDistincts in one agg, which would
    Expand every row ×k (the Q21 lesson).  At 100 TB the per-column
    distinct passes are the honest cost of exactness; a production
    profiler swaps them for HLL sketches in the same report shape.
    """
    orders = load_table(spark, sf_dir, "orders")
    norm = {
        c: (
            F.nullif(F.col(c), F.lit("4-NOT SPECIFIED"))
            if c == "o_orderpriority"
            else F.col(c)
        )
        for c in _PROFILE_COLS
    }
    out = None
    for c in _PROFILE_COLS:
        e = norm[c]
        s = e.cast("string")
        wide = orders.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(e.isNull().cast("long")).alias("n_nulls"),
            F.min(s).alias("min_value"),
            F.max(s).alias("max_value"),
        )
        distinct = (
            orders.select(e.alias("v"))
            .where(F.col("v").isNotNull())
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.count(F.lit(1)).alias("n_distinct"))
        )
        row = wide.crossJoin(F.broadcast(distinct)).select(
            F.lit(c).alias("column_name"),
            "n_rows",
            "n_nulls",
            "n_distinct",
            "min_value",
            "max_value",
        )
        out = row if out is None else out.unionByName(row)
    return out


def _oracle_profile() -> str:
    parts = []
    for c in _PROFILE_COLS:
        e = (
            f"nullif({c}, '4-NOT SPECIFIED')"
            if c == "o_orderpriority"
            else c
        )
        parts.append(f"""
SELECT '{c}' AS column_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN {e} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(count(DISTINCT {e}) AS BIGINT) AS n_distinct,
       min(CAST({e} AS VARCHAR)) AS min_value,
       max(CAST({e} AS VARCHAR)) AS max_value
FROM orders""")
    return " UNION ALL ".join(parts)


ROUND5H_QUERIES["table_profile"] = (q_table_profile, _oracle_profile())


# ---------------------------------------------------------------------------
# Supplier-concentration HHI: procurement-risk per nation
# ---------------------------------------------------------------------------


def q_supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration per
    supplier nation — the procurement-risk metric (an HHI near 1 says
    one supplier owns the nation's flow; regulators flag >0.25).

    Exactness trick: HHI = Σ shareᵢ² = (Σ revᵢ²) / (Σ revᵢ)² — both
    sums accumulate EXACT integer centi-cents in DECIMAL(38,0)
    (order-independent), so the only floating-point step is the final
    division, rounded to 6.  Squaring per-supplier revenues would
    otherwise mean summing doubles in shuffle order.  Shape: revenue
    per (nation, supplier) is one combinable groupBy on the join of
    lineitem × broadcast(supplier); the HHI collapse is a second
    groupBy over |suppliers| rows.
    """
    from etl_portofolio_spark.plans.analytics_queries import cents

    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev_c4 = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    per_supp = (
        lineitem.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
        .agg(F.sum(rev_c4).cast("decimal(38,0)").alias("rev"))
    )
    agg = per_supp.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("rev") * F.col("rev")).alias("sum_sq"),
        F.sum("rev").alias("total"),
    )
    return agg.select(
        "nation",
        "n_suppliers",
        F.round(
            F.col("sum_sq").cast("double")
            / (F.col("total").cast("double") * F.col("total").cast("double")),
            6,
        ).alias("hhi"),
    )


ORACLE_HHI = """
WITH per_supp AS (
  SELECT n_name AS nation, s_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
                       AS BIGINT)) AS DECIMAL(38,0)) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT nation, count(*) AS n_suppliers,
       round(CAST(sum(rev * rev) AS DOUBLE)
             / (CAST(sum(rev) AS DOUBLE) * CAST(sum(rev) AS DOUBLE)), 6)
         AS hhi
FROM per_supp GROUP BY nation
"""


ROUND5H_QUERIES["supplier_concentration_hhi"] = (
    q_supplier_concentration_hhi,
    ORACLE_HHI,
)


# ---------------------------------------------------------------------------
# Zipf fit: rank-frequency slope of the corpus token distribution
# ---------------------------------------------------------------------------

_ZIPF_TOPN = 100


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of ln(freq) against ln(rank) over the top
    100 corpus tokens — the Zipf's-law health check for a text corpus
    (natural language sits near −1; templated or synthetic text
    flattens toward 0, a generation artifact detector).

    The head extraction is ``orderBy().limit()`` — TakeOrderedAndProject
    over the token-count frame (partial top-k per partition, never a
    vocabulary-wide single-task sort); count ties break on the token so
    both engines rank identically.  On the 100-row head: each ln is
    rounded to 9 and carried as DECIMAL(20,9) (products of logs are
    re-rounded doubles, not decimal×decimal — which would overflow
    precision 38); the five regression sums are then exact, and the
    slope/intercept are the only unrounded doubles, emitted at 6.
    """
    from pyspark.sql import Window

    from etl_portofolio_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(text.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    head = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(_ZIPF_TOPN)
    # bounded: top-_ZIPF_TOPN head only
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    pts = head.select(
        F.row_number().over(w).alias("rank"), "cnt"
    ).select(
        F.round(F.log(F.col("rank").cast("double")), 9)
        .cast("decimal(20,9)")
        .alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 9)
        .cast("decimal(20,9)")
        .alias("y"),
        F.round(
            F.log(F.col("rank").cast("double"))
            * F.log(F.col("cnt").cast("double")),
            9,
        )
        .cast("decimal(20,9)")
        .alias("xy"),
        F.round(
            F.log(F.col("rank").cast("double"))
            * F.log(F.col("rank").cast("double")),
            9,
        )
        .cast("decimal(20,9)")
        .alias("xx"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    slope = (n * F.col("sxy").cast("double") - sx * sy) / (
        n * F.col("sxx").cast("double") - sx * sx
    )
    intercept = (sy - slope * sx) / n
    return s.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


def _oracle_zipf() -> str:
    from etl_portofolio_spark.plans.pipeline_queries import _SQL_TOKENS

    toks = _SQL_TOKENS.format(col="text")
    return f"""
WITH counts AS (
  SELECT tok, count(*) AS cnt
  FROM (SELECT unnest({toks}) AS tok FROM documents)
  GROUP BY tok
), head AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
  FROM counts ORDER BY cnt DESC, tok LIMIT {_ZIPF_TOPN}
), pts AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(20,9)) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(20,9)) AS y,
         CAST(round(ln(CAST(rank AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)), 9)
              AS DECIMAL(20,9)) AS xy,
         CAST(round(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)), 9)
              AS DECIMAL(20,9)) AS xx
  FROM head
), s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(xy) AS sxy, sum(xx) AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / n, 6) AS zipf_intercept
FROM s
"""


ROUND5H_QUERIES["zipf_fit"] = (q_zipf_fit, _oracle_zipf())


# ---------------------------------------------------------------------------
# Unicode normalization audit: the scalar-pandas_udf surface
# ---------------------------------------------------------------------------


def q_unicode_normalization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source count of documents whose NFC form differs from the
    raw bytes — the pre-dedup hygiene check: composed vs decomposed
    Unicode makes identical text hash differently, so any nonzero row
    here means the dedup stage MUST normalize first (`operators/text.
    nfc_normalized`, the engine's canonical scalar Pandas UDF — the
    one cleaning primitive with no JVM built-in).  A zero report (the
    ASCII fixture) is the healthy verdict, same contract as the
    integrity audits.
    """
    from etl_portofolio_spark.operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.select(
        "source",
        (text_ops.nfc_normalized("text") != F.col("text")).alias("changed"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("changed").cast("long")).alias("n_denormalized"),
    )


ORACLE_UNICODE_AUDIT = """
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END)
            AS BIGINT) AS n_denormalized
FROM documents GROUP BY source
"""


ROUND5H_QUERIES["unicode_normalization_audit"] = (
    q_unicode_normalization_audit,
    ORACLE_UNICODE_AUDIT,
)


# ---------------------------------------------------------------------------
# Seasonal decomposition of daily revenue: trend + weekly seasonal + residual
# ---------------------------------------------------------------------------

_SD_HALF = 3  # centered 7-day trend window


def q_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily-revenue series:
    trend (centered 7-day mean), weekly seasonal component (day-of-week
    mean of the detrended series) and residual — what
    ``revenue_autocorrelation`` detects, made explicit; the residual
    is the right input for the anomaly z-score once seasonality is
    real.

    Every emitted value is a WHOLE-CENT BIGINT: at daily-revenue
    magnitudes (~1e9 cents) a double's ulp (~2.4e-7) is the same order
    as a 6-decimal rounding boundary, so fractional-cent emission is
    cross-engine fragile BY CONSTRUCTION (found by the sf0.1
    differential).  Instead the trend is the exact DECIMAL(38,0)
    window sum divided once in IEEE double and rounded to integer
    cents (identical doubles both engines; the 0.5 boundary sits 7
    orders above ulp), the detrended series is then exact integer
    arithmetic, and the seasonal mean repeats the same
    one-safe-rounding pattern.  Day-frame windows only —
    calendar-bounded, the ``daily_revenue_anomaly`` scale argument.
    """
    from pyspark.sql import Window

    from etl_portofolio_spark.plans.analytics_queries import cents

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("rev_c")
    )
    w = Window.orderBy("day").rowsBetween(-_SD_HALF, _SD_HALF)
    trended = daily.select(
        "day",
        "rev_c",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.round(
            F.sum(F.col("rev_c").cast("decimal(38,0)")).over(w).cast("double")
            / (2 * _SD_HALF + 1),
            0,
        )
        .cast("long")
        .alias("trend_c"),
    ).where(F.col("n_win") == 2 * _SD_HALF + 1)
    detr = trended.select(
        "day",
        "rev_c",
        "trend_c",
        (F.col("rev_c") - F.col("trend_c")).alias("detr_c"),
        F.pmod(
            F.datediff(F.col("day"), F.lit(_COHORT_EPOCH).cast("date")),
            F.lit(7),
        ).alias("dow"),
    )
    seasonal = detr.groupBy("dow").agg(
        F.round(
            F.sum(F.col("detr_c").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            0,
        )
        .cast("long")
        .alias("seasonal_c")
    )
    return detr.join(F.broadcast(seasonal), "dow").select(
        "day",
        "rev_c",
        "trend_c",
        "seasonal_c",
        (F.col("detr_c") - F.col("seasonal_c")).alias("residual_c"),
    )


ORACLE_SEASONAL = f"""
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1
), trended AS (
  SELECT day, rev_c,
         count(*) OVER w AS n_win,
         CAST(round(CAST(sum(CAST(rev_c AS DECIMAL(38,0))) OVER w AS DOUBLE)
                    / {2 * _SD_HALF + 1}, 0) AS BIGINT) AS trend_c
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {_SD_HALF} PRECEDING
               AND {_SD_HALF} FOLLOWING)
), detr AS (
  SELECT day, rev_c, trend_c, rev_c - trend_c AS detr_c,
         CAST(datediff('day', DATE '{_COHORT_EPOCH}', CAST(day AS DATE)) % 7
              + 7 AS INTEGER) % 7 AS dow
  FROM trended WHERE n_win = {2 * _SD_HALF + 1}
), seasonal AS (
  SELECT dow,
         CAST(round(CAST(sum(CAST(detr_c AS DECIMAL(38,0))) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 0) AS BIGINT) AS seasonal_c
  FROM detr GROUP BY dow
)
SELECT d.day, d.rev_c, d.trend_c, s.seasonal_c,
       CAST(d.detr_c - s.seasonal_c AS BIGINT) AS residual_c
FROM detr d JOIN seasonal s USING (dow)
"""


ROUND5H_QUERIES["seasonal_decomposition"] = (
    q_seasonal_decomposition,
    ORACLE_SEASONAL,
)


# ---------------------------------------------------------------------------
# Mutual information: dependence beyond correlation
# ---------------------------------------------------------------------------

_MI_QTY_BANDS = (10, 20, 30, 40)      # l_quantity band edges
_MI_PRICE_BANDS_C = (25_000_00, 50_000_00, 75_000_00)  # extendedprice cents


def q_quantity_price_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information between banded quantity and banded price on
    lineitem — the dependence detector that sees what Pearson cannot
    (non-monotone, band-local structure); run before trusting a
    marginal-only synthetic-data generator or an independence
    assumption in a cost model.

    Everything is one combinable groupBy over the |qty_bands|×|price
    bands| contingency domain; marginals come from window sums over
    that tiny frame, the corpus total broadcasts as one scalar.
    MI terms p·ln(p/(px·py)) are the only doubles, each computed from
    exact integer counts in one identical expression tree, rounded
    to 6.  Band edges are integer constants — no quantile coupling.
    """
    from pyspark.sql import Window

    from etl_portofolio_spark.plans.analytics_queries import cents

    li = load_table(spark, sf_dir, "lineitem")
    qb = F.lit(len(_MI_QTY_BANDS))
    for i, e in reversed(list(enumerate(_MI_QTY_BANDS))):
        qb = F.when(F.col("l_quantity") < e, F.lit(i)).otherwise(qb)
    pb = F.lit(len(_MI_PRICE_BANDS_C))
    pc = cents("l_extendedprice")
    for i, e in reversed(list(enumerate(_MI_PRICE_BANDS_C))):
        pb = F.when(pc < e, F.lit(i)).otherwise(pb)
    cont = li.select(qb.alias("qty_band"), pb.alias("price_band")).groupBy(
        "qty_band", "price_band"
    ).agg(F.count(F.lit(1)).alias("n"))
    wq = Window.partitionBy("qty_band")
    wp = Window.partitionBy("price_band")
    tot = cont.agg(F.sum("n").alias("n_tot"))
    enriched = cont.select(
        "qty_band",
        "price_band",
        "n",
        F.sum("n").over(wq).alias("n_q"),
        F.sum("n").over(wp).alias("n_p"),
    ).crossJoin(F.broadcast(tot))
    p = F.col("n").cast("double") / F.col("n_tot").cast("double")
    ratio = (
        F.col("n").cast("double") * F.col("n_tot").cast("double")
    ) / (F.col("n_q").cast("double") * F.col("n_p").cast("double"))
    return enriched.select(
        "qty_band",
        "price_band",
        "n",
        F.round(p * F.log(ratio), 6).alias("mi_term"),
    )


def _oracle_mi() -> str:
    qchain = str(len(_MI_QTY_BANDS))
    for i, e in reversed(list(enumerate(_MI_QTY_BANDS))):
        qchain = f"CASE WHEN l_quantity < {e} THEN {i} ELSE {qchain} END"
    pchain = str(len(_MI_PRICE_BANDS_C))
    for i, e in reversed(list(enumerate(_MI_PRICE_BANDS_C))):
        pchain = (
            f"CASE WHEN CAST(round(l_extendedprice * 100, 0) AS BIGINT) < {e} "
            f"THEN {i} ELSE {pchain} END"
        )
    return f"""
WITH cont AS (
  SELECT {qchain} AS qty_band, {pchain} AS price_band, count(*) AS n
  FROM lineitem GROUP BY 1, 2
), enriched AS (
  SELECT qty_band, price_band, n,
         sum(n) OVER (PARTITION BY qty_band) AS n_q,
         sum(n) OVER (PARTITION BY price_band) AS n_p,
         (SELECT sum(n) FROM cont) AS n_tot
  FROM cont
)
SELECT CAST(qty_band AS INTEGER) AS qty_band,
       CAST(price_band AS INTEGER) AS price_band,
       CAST(n AS BIGINT) AS n,
       round((CAST(n AS DOUBLE) / CAST(n_tot AS DOUBLE))
             * ln((CAST(n AS DOUBLE) * CAST(n_tot AS DOUBLE))
                  / (CAST(n_q AS DOUBLE) * CAST(n_p AS DOUBLE))), 6)
         AS mi_term
FROM enriched
"""


ROUND5H_QUERIES["quantity_price_mutual_information"] = (
    q_quantity_price_mutual_information,
    _oracle_mi(),
)


# ---------------------------------------------------------------------------
# Exact Gini coefficient, scale-safe global rank
# ---------------------------------------------------------------------------

#: revenue-cents band width for the monotone prebin (the
#: equi_depth_exact_scalable discipline: rank = within-bin row_number +
#: exclusive lower-bin count, so no single-task global sort)
_GINI_BAND_C = 4_000_000


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of revenue concentration across
    customers — the inequality summary a marketplace/risk team tracks
    (0 = uniform, →1 = one whale holds everything).

    G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n needs each customer's GLOBAL
    ascending rank; ``row_number`` over an unpartitioned window is a
    single-task sort, so the rank decomposes the scale-safe way: a
    MONOTONE integer prebin on the revenue value (band = cents DIV
    constant — ties share a band by construction), within-band
    row_number (parallel across bands), plus the exclusive lower-band
    count from a triangular broadcast join over the |bands|-row count
    frame.  Σ i·x accumulates in DECIMAL(38,0) (i·x reaches ~1e17 —
    past BIGINT comfort at real scale); the final G is one double
    expression from three exact scalars, rounded to 6.  The oracle
    keeps the plain global-window form; the hash match proves the
    decomposition exact.
    """
    from pyspark.sql import Window

    from etl_portofolio_spark.plans.analytics_queries import cents

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("x")
    )
    binned = cust.select(
        "o_custkey", "x", (F.col("x") / _GINI_BAND_C).cast("long").alias("bin")
    )
    win = Window.partitionBy("bin").orderBy("x", "o_custkey")
    within = binned.withColumn("r_in", F.row_number().over(win))
    cnts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("bin_n"))
    lower = cnts.select(F.col("bin").alias("lbin"), F.col("bin_n").alias("ln"))
    offsets = (
        cnts.join(F.broadcast(lower), F.col("lbin") < F.col("bin"), "left")
        .groupBy("bin")
        .agg(F.coalesce(F.sum("ln"), F.lit(0)).alias("offset"))
    )
    ranked = within.join(F.broadcast(offsets), "bin").select(
        "x", (F.col("offset") + F.col("r_in")).alias("rank")
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            (F.col("rank").cast("decimal(38,0)") * F.col("x")).cast(
                "decimal(38,0)"
            )
        ).alias("six"),
    )
    n = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("six").cast("double")
        / (n * F.col("sx").cast("double"))
        - (n + 1.0) / n
    )
    return sums.select(
        F.col("n").alias("n_customers"),
        F.col("sx").cast("long").alias("total_rev_c"),
        F.round(gini, 6).alias("gini"),
    )


ORACLE_GINI = """
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS x
  FROM orders GROUP BY 1
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS rank FROM cust
), sums AS (
  SELECT count(*) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(CAST(rank AS DECIMAL(38,0)) * x AS DECIMAL(38,0))) AS six
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(sx AS BIGINT) AS total_rev_c,
       round(2.0 * CAST(six AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
FROM sums
"""


ROUND5H_QUERIES["revenue_gini"] = (q_revenue_gini, ORACLE_GINI)


# ---------------------------------------------------------------------------
# Theil–Sen robust trend: median of pairwise slopes
# ---------------------------------------------------------------------------


def q_theilsen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator of the daily-revenue trend: the MEDIAN of
    all pairwise slopes — robust to the outlier days that wreck an
    OLS fit (one double-ingested partition flips a least-squares
    slope; it barely moves this one).

    The O(days²) pair set is the honest cost and it is CALENDAR-
    bounded (~2.9M pairs for 7 years — a fact-table row count never
    enters), keyed off one day-level aggregation of the fact table.

    Selection discipline (r6 rewrite, 2.5×): ``round(x, 6)`` routes
    through BigDecimal in the JVM (~2 s over 2.9M slopes — it WAS the
    query), but rounding is monotone non-decreasing, so the k-th
    smallest ROUNDED slope equals round(k-th smallest RAW slope).  The
    raw double slopes rank via a two-level histogram descent (coarse
    bin counts → target bin, fine bin counts → target sub-bin, tiny
    ordered tail), and only the ONE selected value is rounded —
    matching the oracle's rank-by-rounded-slope selection exactly.
    Never a global sort, never a per-pair BigDecimal.  Output: one row
    (n_pairs, the median slope in cents/day).
    """
    from etl_portofolio_spark.caching import scoped_persist
    from etl_portofolio_spark.plans.analytics_queries import cents

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("x")
    ).select(
        F.datediff(F.col("day"), F.lit(_COHORT_EPOCH).cast("date")).alias("i"),
        "x",
    )
    a = daily.select(F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = daily.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    # try_divide: ANSI mode may evaluate the projection speculatively
    # inside the join before the ia<ib condition filters self-pairs;
    # the guard changes nothing on surviving rows (ib > ia always)
    slopes = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            F.try_divide(
                (F.col("xb") - F.col("xa")).cast("double"),
                (F.col("ib") - F.col("ia")).cast("double"),
            ).alias("slope")
        )
    )
    # one materialization of the calendar-bounded pair frame (a single
    # double column) feeds every selection pass
    slopes = scoped_persist(slopes)

    def _descend(df, width: float, k: int) -> tuple[object, int]:
        """Locate the bin holding the k-th smallest slope; return
        (bin_id, rank within that bin).  One combinable aggregation —
        bin counts are collected driver-side (#bins rows, bounded by
        value spread / width, thousands at most)."""
        hist = sorted(
            (r["b"], r["n"])
            for r in df.groupBy(
                F.floor(F.col("slope") / F.lit(width)).cast("long").alias("b")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        run = 0
        for b, n in hist:
            if run + n >= k:
                return b, k - run
            run += n
        raise AssertionError("rank k exceeds histogram mass")

    coarse_w = 100_000.0
    n_pairs = slopes.count()
    k = n_pairs // 2 + 1  # 1-based rank of the (upper) median element
    b1, k1 = _descend(slopes, coarse_w, k)
    in_b1 = slopes.where(
        F.floor(F.col("slope") / F.lit(coarse_w)).cast("long") == F.lit(b1)
    )
    fine_w = coarse_w / 1024.0
    b2, k2 = _descend(in_b1, fine_w, k1)
    # the target sub-bin holds ~(bin/1024) rows; the k2-smallest raw
    # value arrives via TakeOrderedAndProject on that tiny slice
    tail = (
        in_b1.where(
            F.floor(F.col("slope") / F.lit(fine_w)).cast("long") == F.lit(b2)
        )
        .orderBy("slope")
        .limit(k2)
        .collect()
    )
    median_raw = tail[-1]["slope"]
    # round the ONE selected value with the same engine semantics the
    # per-pair rounding used (monotonicity makes the results identical)
    return spark.range(1).select(
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        F.round(F.lit(median_raw), 6).alias("median_slope_c_per_day"),
    )


def _oracle_theilsen() -> str:
    return f"""
WITH daily AS (
  SELECT CAST(datediff('day', DATE '{_COHORT_EPOCH}',
              CAST(o_orderdate AS DATE)) AS BIGINT) AS i,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS x
  FROM orders GROUP BY 1
), slopes AS (
  SELECT a.i AS ia, b.i AS ib,
         round(CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE), 6)
           AS slope
  FROM daily a JOIN daily b ON a.i < b.i
), ranked AS (
  SELECT slope, row_number() OVER (ORDER BY slope, ia, ib) AS r,
         count(*) OVER () AS n_pairs
  FROM slopes
)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
       slope AS median_slope_c_per_day
FROM ranked WHERE r = n_pairs // 2 + 1
"""


ROUND5H_QUERIES["theilsen_revenue_trend"] = (
    q_theilsen_revenue_trend,
    _oracle_theilsen(),
)


# ---------------------------------------------------------------------------
# Conversion-latency distribution: how long view -> click takes
# ---------------------------------------------------------------------------

_CONV_CAP_H = 48  # latencies above cap collapse into one overflow bucket


def q_conversion_latency_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Histogram of hours between a user's first view and their first
    click AFTER it — the latency companion to the funnel's stage
    counts (the same conversion rate can hide minutes-vs-days user
    behavior; SLAs and retargeting windows come from THIS shape).

    Two keyed min-aggregations on user_id (the funnel discipline —
    never a per-user history sort), integer hour buckets from
    floor-epoch differences, a capped overflow bucket so the domain
    stays bounded, one combinable groupBy over ≤49 buckets.
    """
    events = load_table(spark, sf_dir, "events")
    ev = events.select("user_id", "event_type", "ts")
    t1 = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    t2 = (
        ev.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    hours = F.floor(
        (F.unix_timestamp("t2") - F.unix_timestamp("t1")) / F.lit(3600)
    ).cast("long")
    bucket = F.least(hours, F.lit(_CONV_CAP_H))
    return (
        t2.select(bucket.alias("latency_h"))
        .groupBy("latency_h")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


ORACLE_CONV_LATENCY = f"""
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, t1, min(ts) AS t2
  FROM events e JOIN t1 USING (user_id)
  WHERE event_type = 'click' AND ts > t1
  GROUP BY e.user_id, t1
)
SELECT least(CAST(floor((floor(epoch(t2)) - floor(epoch(t1)) ) / 3600.0)
                  AS BIGINT), {_CONV_CAP_H}) AS latency_h,
       count(*) AS n_users
FROM t2 GROUP BY 1
"""


ROUND5H_QUERIES["conversion_latency_histogram"] = (
    q_conversion_latency_histogram,
    ORACLE_CONV_LATENCY,
)


# ---------------------------------------------------------------------------
# Growth accounting: new / retained / resurrected / churned per week
# ---------------------------------------------------------------------------


def q_growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical growth-accounting ledger: per week, how many
    active users are NEW (first week ever), RETAINED (also active the
    previous week), RESURRECTED (active before, but not last week) —
    plus the users CHURNING INTO the week (active the week before,
    absent now).  Net growth = new + resurrected − churned; the report
    every growth team reconciles MAU against.

    One dedup to the (user, week) grain, then ``lag``/``lead`` over
    the per-user week sequence classify every activity row and locate
    every churn edge — two window passes in ONE user partitioning,
    then a union of two tiny keyed aggregations (per-week classes and
    per-week churn arrivals) full-outer-joined on the week.  Weeks are
    integer days-since-anchor DIV 7 (no calendar conventions).
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    # floor(), not cast("long"): cast truncates toward zero, so a
    # pre-epoch event (negative datediff) would land one week late vs
    # the oracle's floor-division `//` semantics
    week = F.floor(
        F.datediff(F.to_date("ts"), F.lit(_COHORT_EPOCH).cast("date")) / 7
    ).cast("long")
    uw = events.select("user_id", week.alias("week")).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    classed = uw.select(
        "user_id",
        "week",
        F.lag("week").over(w).alias("prev_week"),
        F.lead("week").over(w).alias("next_week"),
    )
    cls = F.when(F.col("prev_week").isNull(), F.lit("new")).when(
        F.col("week") - F.col("prev_week") == 1, F.lit("retained")
    ).otherwise(F.lit("resurrected"))
    per_week = classed.groupBy("week").agg(
        F.sum((cls == "new").cast("long")).alias("n_new"),
        F.sum((cls == "retained").cast("long")).alias("n_retained"),
        F.sum((cls == "resurrected").cast("long")).alias("n_resurrected"),
    )
    # a user churns INTO week+1 when the next activity is not week+1
    churn = (
        classed.where(
            F.col("next_week").isNull() | (F.col("next_week") > F.col("week") + 1)
        )
        .groupBy((F.col("week") + 1).alias("week"))
        .agg(F.count(F.lit(1)).alias("n_churned_in"))
    )
    return (
        per_week.join(churn, "week", "full_outer")
        .select(
            "week",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0)).alias("n_resurrected"),
            F.coalesce("n_churned_in", F.lit(0)).alias("n_churned_in"),
        )
    )


ORACLE_GROWTH_ACCOUNTING = f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(datediff('day', DATE '{_COHORT_EPOCH}', CAST(ts AS DATE)) // 7
              AS BIGINT) AS week
  FROM events
), classed AS (
  SELECT user_id, week,
         lag(week) OVER w AS prev_week,
         lead(week) OVER w AS next_week
  FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY week)
), per_week AS (
  SELECT week,
         CAST(sum(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(sum(CASE WHEN week - prev_week = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retained,
         CAST(sum(CASE WHEN prev_week IS NOT NULL AND week - prev_week > 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
  FROM classed GROUP BY week
), churn AS (
  SELECT week + 1 AS week, count(*) AS n_churned_in
  FROM classed
  WHERE next_week IS NULL OR next_week > week + 1
  GROUP BY week + 1
)
SELECT COALESCE(p.week, c.week) AS week,
       COALESCE(n_new, 0) AS n_new,
       COALESCE(n_retained, 0) AS n_retained,
       COALESCE(n_resurrected, 0) AS n_resurrected,
       CAST(COALESCE(n_churned_in, 0) AS BIGINT) AS n_churned_in
FROM per_week p FULL OUTER JOIN churn c ON p.week = c.week
"""


ROUND5H_QUERIES["growth_accounting_weekly"] = (
    q_growth_accounting_weekly,
    ORACLE_GROWTH_ACCOUNTING,
)
