"""Round-9 query wave — training-pipeline mechanics the registry did
not yet exercise as first-class, oracle-gated operators: sequence
packing (concatenate-and-chunk batch layout), deterministic systematic
weighted sampling, the re-aggregable partial-state contract behind
every incremental rollup, per-column table profiling, join-key skew
diagnostics, late-arrival/backfill pricing, SemDeDup-style LSH
pruning, merkle-style replica reconciliation, and robust MAD outlier
flags.  Nine entries — the r7 verdict's cap, so the rotation window
clears the round-7b/8 evidence backlog this round.

Each entry: name -> (builder(spark, sf_dir) -> DataFrame, DuckDB oracle
SQL).  Determinism contract as every other wave: integer arithmetic end
to end (token counts, cents, permille by integer ``div``), windows
partitioned by a parallel key (source / brand / bucket), never a global
single-partition sort over fact rows.

Scale theme of the wave: STATE THAT MERGES.  Packing and sampling run
per shard on a cumulative-sum window inside the shard key; the
partial-state query IS the merge contract; profiling, skew and merkle
audits reduce to bounded per-column / per-bucket panels before any
order-sensitive step.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.operators.text import token_count_ws
from etl_portofolio_spark.plans.analytics_queries import cents
from etl_portofolio_spark.plans.oracle_types import oracle_bigint

ROUND9_QUERIES: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {}

#: whitespace token count of lowercased trimmed text — DuckDB twin of
#: operators.text.token_count_ws
_SQL_NTOK = r"len(regexp_split_to_array(lower(trim({col})), '\s+'))"


# ---------------------------------------------------------------------------
# token_packing_chunks — concatenate-and-chunk sequence packing audit
# ---------------------------------------------------------------------------

_PACK_CAP = 512  # tokens per packed context window


def q_token_packing_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing — the batch layout most
    pretraining pipelines actually use: documents are laid end to end
    per shard and the token stream is cut every ``_PACK_CAP`` tokens,
    so a document may straddle a chunk boundary (and get its loss
    attention-masked there).  This audit reports, per source shard,
    the packed-chunk count, how many documents straddle a boundary,
    and the total number of boundary crossings — the numbers that
    decide cap size and whether document-shuffling is needed before
    packing.

    Chunk ids are pure integer prefix-sum arithmetic: a document
    occupying token interval ``(cum - tok, cum]`` starts in chunk
    ``(cum - tok) div cap`` and ends in ``(cum - 1) div cap``.

    Scale design: the running sum windows PER SOURCE (the shard key —
    parallel across shards, never a global sort); the rollup is one
    combinable aggregation on the same key.  At 100 TB each shard
    packs independently, which is exactly how packed batches shard.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count_ws(F.col("text")).alias("tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    laid = docs.withColumn("cum", F.sum("tok").over(w)).select(
        "source",
        "tok",
        F.expr(f"(cum - tok) div {_PACK_CAP}").alias("chunk_start"),
        F.expr(f"(cum - 1) div {_PACK_CAP}").alias("chunk_end"),
    )
    return (
        laid.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tok").cast("long").alias("n_tokens"),
            (F.max("chunk_end") + 1).cast("long").alias("n_chunks"),
            F.sum(
                (F.col("chunk_end") > F.col("chunk_start")).cast("int")
            )
            .cast("long")
            .alias("n_straddlers"),
            F.sum(F.col("chunk_end") - F.col("chunk_start"))
            .cast("long")
            .alias("n_crossings"),
        )
        .withColumn(
            "straddle_permille",
            F.expr("(1000 * n_straddlers) div n_docs").cast("long"),
        )
        .orderBy("source")
    )


_PACK_SQL = oracle_bigint(
    f"""
WITH toks AS (
  SELECT doc_id, source, {_SQL_NTOK.format(col='text')} AS tok
  FROM documents
), laid AS (
  SELECT source, tok,
         SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT source, COUNT(*) AS n_docs, SUM(tok) AS n_tokens,
       MAX((cum - 1) // {_PACK_CAP}) + 1 AS n_chunks,
       SUM(CASE WHEN (cum - 1) // {_PACK_CAP}
                   > (cum - tok) // {_PACK_CAP} THEN 1 ELSE 0 END)
         AS n_straddlers,
       SUM((cum - 1) // {_PACK_CAP} - (cum - tok) // {_PACK_CAP})
         AS n_crossings,
       (1000 * SUM(CASE WHEN (cum - 1) // {_PACK_CAP}
                   > (cum - tok) // {_PACK_CAP} THEN 1 ELSE 0 END))
         // COUNT(*) AS straddle_permille
FROM laid GROUP BY source ORDER BY source
""",
    "n_docs",
    "n_tokens",
    "n_chunks",
    "n_straddlers",
    "n_crossings",
    "straddle_permille",
)

ROUND9_QUERIES["token_packing_chunks"] = (q_token_packing_chunks, _PACK_SQL)


# ---------------------------------------------------------------------------
# systematic_weighted_sample — deterministic weight-proportional sampling
# ---------------------------------------------------------------------------

_SYS_TARGET = 10  # sample size per source shard


def q_systematic_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic weight-proportional sampling: lay each shard's
    documents along their cumulative character-weight axis and select
    the documents containing the equally-spaced thresholds
    ``k * (total div n)`` for k = 1..n — the deterministic,
    replayable counterpart of weighted reservoir sampling that corpus
    mix curation needs (same inputs MUST pick the same sample, or the
    training set is unreproducible).  A heavy document spanning
    several thresholds is picked once with its hit count, preserving
    weight-proportionality.

    Scale design: one cumulative-sum window per source shard (parallel
    key), selection is a per-row integer predicate, no second scan —
    at 100 TB this is a single pass per shard with bounded output.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("w")
    )
    ws = Window.partitionBy("source")
    w = ws.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        docs.withColumn("cum", F.sum("w").over(w))
        .withColumn("step", F.expr(f"sum(w) over (partition by source) div {_SYS_TARGET}"))
        .where(F.col("step") > 0)
    )
    return (
        cum.select(
            "source",
            "doc_id",
            "w",
            F.least(F.expr("cum div step"), F.lit(_SYS_TARGET))
            .cast("long")
            .alias("k_hi"),
            F.least(F.expr("(cum - w) div step"), F.lit(_SYS_TARGET))
            .cast("long")
            .alias("k_lo"),
        )
        .where(F.col("k_hi") > F.col("k_lo"))
        .select(
            "source",
            "doc_id",
            "w",
            (F.col("k_hi") - F.col("k_lo")).cast("long").alias("n_hits"),
            (F.col("k_lo") + 1).cast("long").alias("first_k"),
        )
        .orderBy("source", "doc_id")
    )


_SYS_SQL = oracle_bigint(
    f"""
WITH cum AS (
  SELECT source, doc_id, n_chars AS w,
         SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n_chars) OVER (PARTITION BY source) // {_SYS_TARGET} AS step
  FROM documents
), marked AS (
  SELECT source, doc_id, w,
         LEAST(cum // step, {_SYS_TARGET}) AS k_hi,
         LEAST((cum - w) // step, {_SYS_TARGET}) AS k_lo
  FROM cum WHERE step > 0
)
SELECT source, doc_id, w, k_hi - k_lo AS n_hits, k_lo + 1 AS first_k
FROM marked WHERE k_hi > k_lo
ORDER BY source, doc_id
""",
    "doc_id",
    "w",
    "n_hits",
    "first_k",
)

ROUND9_QUERIES["systematic_weighted_sample"] = (
    q_systematic_weighted_sample,
    _SYS_SQL,
)


# ---------------------------------------------------------------------------
# partial_agg_state_merge — the re-aggregable state contract
# ---------------------------------------------------------------------------


def q_partial_agg_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-aggregability contract behind every incremental rollup:
    build per-DAY partial aggregate states (count, sum, min, max — the
    states a daily ingest would persist), MERGE them up to months, and
    prove the merged state equals a direct month-level aggregation —
    per month, side by side, with an integer consistency flag.  This
    is the property that lets a 100 TB pipeline aggregate each day
    once and answer month/quarter/year queries from state, never
    rescanning history; a non-mergeable state (naive avg, raw median)
    fails exactly this gate.

    Scale design: the daily stage is one combinable aggregation keyed
    on ship date (bounded: calendar days); the merge is an aggregation
    over that bounded frame; the direct recompute exists only to prove
    the contract and would not ship in production.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate",
        F.date_format("l_shipdate", "yyyy-MM").alias("ym"),
        cents("l_quantity").alias("qty_c"),
        cents("l_extendedprice").alias("price_c"),
    )
    daily = li.groupBy("l_shipdate", "ym").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("qty_c").cast("long").alias("sum_qty_c"),
        F.sum("price_c").cast("long").alias("sum_price_c"),
        F.min("price_c").cast("long").alias("min_price_c"),
        F.max("price_c").cast("long").alias("max_price_c"),
    )
    merged = daily.groupBy("ym").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum("sum_qty_c").cast("long").alias("sum_qty_c"),
        F.sum("sum_price_c").cast("long").alias("sum_price_c"),
        F.min("min_price_c").cast("long").alias("min_price_c"),
        F.max("max_price_c").cast("long").alias("max_price_c"),
    )
    direct = li.groupBy("ym").agg(
        F.count(F.lit(1)).cast("long").alias("d_n"),
        F.sum("qty_c").cast("long").alias("d_sq"),
        F.sum("price_c").cast("long").alias("d_sp"),
        F.min("price_c").cast("long").alias("d_mn"),
        F.max("price_c").cast("long").alias("d_mx"),
    )
    return (
        merged.join(direct, "ym")
        .select(
            "ym",
            "n_rows",
            "sum_qty_c",
            "sum_price_c",
            "min_price_c",
            "max_price_c",
            (
                (F.col("n_rows") == F.col("d_n"))
                & (F.col("sum_qty_c") == F.col("d_sq"))
                & (F.col("sum_price_c") == F.col("d_sp"))
                & (F.col("min_price_c") == F.col("d_mn"))
                & (F.col("max_price_c") == F.col("d_mx"))
            )
            .cast("long")
            .alias("state_consistent"),
        )
        .orderBy("ym")
    )


_STATE_SQL = oracle_bigint(
    """
WITH li AS (
  SELECT l_shipdate, strftime(l_shipdate, '%Y-%m') AS ym,
         CAST(round(l_quantity * 100, 0) AS BIGINT) AS qty_c,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c
  FROM lineitem
), daily AS (
  SELECT l_shipdate, ym, COUNT(*) AS cnt, SUM(qty_c) AS sum_qty_c,
         SUM(price_c) AS sum_price_c, MIN(price_c) AS min_price_c,
         MAX(price_c) AS max_price_c
  FROM li GROUP BY l_shipdate, ym
), merged AS (
  SELECT ym, SUM(cnt) AS n_rows, SUM(sum_qty_c) AS sum_qty_c,
         SUM(sum_price_c) AS sum_price_c, MIN(min_price_c) AS min_price_c,
         MAX(max_price_c) AS max_price_c
  FROM daily GROUP BY ym
), direct AS (
  SELECT ym, COUNT(*) AS d_n, SUM(qty_c) AS d_sq, SUM(price_c) AS d_sp,
         MIN(price_c) AS d_mn, MAX(price_c) AS d_mx
  FROM li GROUP BY ym
)
SELECT m.ym, m.n_rows, m.sum_qty_c, m.sum_price_c, m.min_price_c,
       m.max_price_c,
       CASE WHEN m.n_rows = d.d_n AND m.sum_qty_c = d.d_sq
              AND m.sum_price_c = d.d_sp AND m.min_price_c = d.d_mn
              AND m.max_price_c = d.d_mx
            THEN 1 ELSE 0 END AS state_consistent
FROM merged m JOIN direct d ON m.ym = d.ym
ORDER BY m.ym
""",
    "n_rows",
    "sum_qty_c",
    "sum_price_c",
    "min_price_c",
    "max_price_c",
    "state_consistent",
)

ROUND9_QUERIES["partial_agg_state_merge"] = (
    q_partial_agg_state_merge,
    _STATE_SQL,
)


# ---------------------------------------------------------------------------
# table_profile_report — per-column profiling (the ingest QC first pass)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def q_table_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of the documents table — the first QC
    pass every new 100 TB source gets before any pipeline touches it:
    null count, exact distinct cardinality, and the min/max LENGTH of
    the value's string form per column.  Lengths (not values) keep the
    report collation-free: min/max over raw strings would couple the
    gate to engine collation order, lengths are pure integers.

    Scale design: one column-pruned aggregation per column (each scan
    reads exactly one column — parquet columnar wins), unioned into a
    5-row report; the distinct count is the only shuffle and keys on
    the column's own values.
    """
    docs = load_table(spark, sf_dir, "documents")
    frames = []
    for c in _PROFILE_COLS:
        s = F.col(c).cast("string")
        frames.append(
            docs.select(s.alias("v")).agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                (F.count(F.lit(1)) - F.count("v")).cast("long").alias("n_null"),
                F.countDistinct("v").cast("long").alias("n_distinct"),
                F.min(F.length("v")).cast("long").alias("len_min"),
                F.max(F.length("v")).cast("long").alias("len_max"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.orderBy("col_name")


_PROFILE_SQL = oracle_bigint(
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT(CAST({c} AS VARCHAR)) AS n_null,
       COUNT(DISTINCT CAST({c} AS VARCHAR)) AS n_distinct,
       MIN(length(CAST({c} AS VARCHAR))) AS len_min,
       MAX(length(CAST({c} AS VARCHAR))) AS len_max
FROM documents"""
        for c in _PROFILE_COLS
    )
    + "\nORDER BY col_name",
    "n_rows",
    "n_null",
    "n_distinct",
    "len_min",
    "len_max",
)

ROUND9_QUERIES["table_profile_report"] = (q_table_profile_report, _PROFILE_SQL)


# ---------------------------------------------------------------------------
# shuffle_key_skew_audit — join-key distribution diagnostics
# ---------------------------------------------------------------------------

_SKEW_BUCKETS = 32  # models the shuffle partitioner width


def q_shuffle_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for ``lineitem.l_partkey`` — the
    numbers to read BEFORE keying a 100 TB shuffle on a column: exact
    p50/p99 of per-key row counts (via a count-of-counts histogram,
    never a fact-scale sort), the heaviest key's row share, and the
    modeled partition imbalance when keys route to
    ``key mod {buckets}`` reducers.  A p99/p50 ratio or bucket skew
    far above 1 says salt-or-broadcast before shuffling.

    Scale design: per-key counts shuffle once on the key itself; the
    count-of-counts histogram is domain-bounded (distinct count
    values), so the percentile walk is a window over a tiny frame; the
    bucket model is a second combinable aggregation.  One row out.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    from etl_portofolio_spark.caching import scoped_persist

    counts = scoped_persist(
        li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    hist = counts.groupBy("cnt").agg(
        F.count(F.lit(1)).cast("long").alias("nk")
    )
    wh = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
    walked = hist.withColumn("cum", F.sum("nk").over(wh)).withColumn(
        "n_keys", F.sum("nk").over(Window.partitionBy(F.lit(1)))
    )
    p50 = walked.where(2 * F.col("cum") >= F.col("n_keys")).agg(
        F.min("cnt").alias("p50_rows_per_key")
    )
    p99 = walked.where(100 * F.col("cum") >= 99 * F.col("n_keys")).agg(
        F.min("cnt").alias("p99_rows_per_key")
    )
    tot = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_rows_per_key"),
    )
    buckets = (
        counts.groupBy((F.col("l_partkey") % _SKEW_BUCKETS).alias("b"))
        .agg(F.sum("cnt").alias("rows"))
        .agg(
            F.max("rows").cast("long").alias("max_bucket_rows"),
            F.min("rows").cast("long").alias("min_bucket_rows"),
        )
    )
    return (
        tot.join(p50)
        .join(p99)
        .join(buckets)
        .select(
            "n_keys",
            "n_rows",
            "p50_rows_per_key",
            "p99_rows_per_key",
            "max_rows_per_key",
            F.expr("(1000000 * max_rows_per_key) div n_rows")
            .cast("long")
            .alias("top_key_permicro"),
            "max_bucket_rows",
            "min_bucket_rows",
            F.expr(f"(1000 * max_bucket_rows * {_SKEW_BUCKETS}) div n_rows")
            .cast("long")
            .alias("bucket_skew_permille"),
        )
    )


_SKEW_SQL = oracle_bigint(
    f"""
WITH counts AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
), hist AS (
  SELECT cnt, COUNT(*) AS nk FROM counts GROUP BY cnt
), walked AS (
  SELECT cnt,
         SUM(nk) OVER (ORDER BY cnt ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(nk) OVER () AS n_keys
  FROM hist
), p50 AS (
  SELECT MIN(cnt) AS p50_rows_per_key FROM walked WHERE 2 * cum >= n_keys
), p99 AS (
  SELECT MIN(cnt) AS p99_rows_per_key FROM walked WHERE 100 * cum >= 99 * n_keys
), tot AS (
  SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_rows, MAX(cnt) AS max_rows_per_key
  FROM counts
), buckets AS (
  SELECT MAX(rows) AS max_bucket_rows, MIN(rows) AS min_bucket_rows FROM (
    SELECT l_partkey % {_SKEW_BUCKETS} AS b, SUM(cnt) AS rows
    FROM counts GROUP BY 1
  )
)
SELECT t.n_keys, t.n_rows, p50.p50_rows_per_key, p99.p99_rows_per_key,
       t.max_rows_per_key,
       (1000000 * t.max_rows_per_key) // t.n_rows AS top_key_permicro,
       b.max_bucket_rows, b.min_bucket_rows,
       (1000 * b.max_bucket_rows * {_SKEW_BUCKETS}) // t.n_rows
         AS bucket_skew_permille
FROM tot t, p50, p99, buckets b
""",
    "n_keys",
    "n_rows",
    "p50_rows_per_key",
    "p99_rows_per_key",
    "max_rows_per_key",
    "top_key_permicro",
    "max_bucket_rows",
    "min_bucket_rows",
    "bucket_skew_permille",
)

ROUND9_QUERIES["shuffle_key_skew_audit"] = (
    q_shuffle_key_skew_audit,
    _SKEW_SQL,
)


# ---------------------------------------------------------------------------
# late_arrival_backfill_audit — lateness vs partition-republish cost
# ---------------------------------------------------------------------------

_LATE_BUDGETS = (0, 1, 2)  # allowed days of lateness before re-publish


def q_late_arrival_backfill_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival accounting for a ds-partitioned ingest: each event
    lands ``event_id mod 3`` days after its event time (the
    deterministic lateness model), and for each lateness budget L the
    audit counts the events that arrive MORE than L days late — the
    rows whose day-partition was already published and must be
    rewritten.  This is the table that prices a watermark policy: a
    bigger L delays publishing; a smaller L re-publishes more
    partitions.

    Scale design: lateness is a map-side expression; one combinable
    aggregation keyed on event day; per-budget columns are conditional
    sums in the same pass (never one scan per budget).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("ds"),
        (F.col("event_id") % 3).cast("long").alias("late_days"),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_events"),
    ]
    for b in _LATE_BUDGETS:
        aggs.append(
            F.sum((F.col("late_days") > b).cast("int"))
            .cast("long")
            .alias(f"n_late_over_{b}d")
        )
    return (
        ev.groupBy("ds")
        .agg(*aggs)
        .withColumn(
            "republish_permille_1d",
            F.expr("(1000 * n_late_over_1d) div n_events").cast("long"),
        )
        .orderBy("ds")
    )


_LATE_SQL = oracle_bigint(
    """
SELECT CAST(ts AS DATE) AS ds, COUNT(*) AS n_events,
       SUM(CASE WHEN event_id % 3 > 0 THEN 1 ELSE 0 END) AS n_late_over_0d,
       SUM(CASE WHEN event_id % 3 > 1 THEN 1 ELSE 0 END) AS n_late_over_1d,
       SUM(CASE WHEN event_id % 3 > 2 THEN 1 ELSE 0 END) AS n_late_over_2d,
       (1000 * SUM(CASE WHEN event_id % 3 > 1 THEN 1 ELSE 0 END)) // COUNT(*)
         AS republish_permille_1d
FROM events GROUP BY 1 ORDER BY ds
""",
    "n_events",
    "n_late_over_0d",
    "n_late_over_1d",
    "n_late_over_2d",
    "republish_permille_1d",
)

ROUND9_QUERIES["late_arrival_backfill_audit"] = (
    q_late_arrival_backfill_audit,
    _LATE_SQL,
)


# ---------------------------------------------------------------------------
# semdedup_lsh_prune — SemDeDup-style keep-one-per-neighborhood pruning
# ---------------------------------------------------------------------------

_SEM_THRESHOLD = 0.35  # fixture dup band (real corpora prune at ~0.95)


def q_semdedup_lsh_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: inside the LSH-blocked
    near-duplicate graph, every vector that has a SMALLER-id neighbor
    above the cosine threshold is pruned, keeping the min-id
    representative of each near-dup neighborhood — the cheap,
    deterministic form of "cluster embeddings, keep one per clump"
    that large corpus curation runs before training.  Emits the
    per-label prune census (how much each class shrinks).

    Scale design: candidates come from the proven multi-table LSH
    equi-join (never all-pairs); pruning is one distinct projection of
    the pair list + one left join back to the corpus; scoring uses the
    Arrow-vectorized sequential-fold cosine (bit-identical to the
    oracle's list_reduce).
    """
    from etl_portofolio_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(
        emb,
        threshold=_SEM_THRESHOLD,
        dim=64,
        num_planes=2,
        num_tables=6,
        cosine_fn=similarity.cosine_fold_pd,
    )
    pruned = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        emb.select("vec_id", "label")
        .join(pruned.withColumn("pruned", F.lit(1)), "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.coalesce(F.col("pruned"), F.lit(0)))
            .cast("long")
            .alias("n_pruned"),
        )
        .select(
            "label",
            "n_vecs",
            "n_pruned",
            (F.col("n_vecs") - F.col("n_pruned")).cast("long").alias("n_kept"),
            F.expr("(1000 * n_pruned) div n_vecs")
            .cast("long")
            .alias("prune_permille"),
        )
        .orderBy("label")
    )


def _semdedup_sql() -> str:
    from etl_portofolio_spark.plans.pipeline_queries import _sql_near_dup_lsh

    return f"""
WITH pairs AS ({_sql_near_dup_lsh(_SEM_THRESHOLD, 64, 2, 6)}),
pruned AS (SELECT DISTINCT id_b AS vec_id FROM pairs)
SELECT e.label, COUNT(*) AS n_vecs,
       SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_pruned,
       COUNT(*) - SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         AS n_kept,
       (1000 * SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END))
         // COUNT(*) AS prune_permille
FROM embeddings e LEFT JOIN pruned p ON e.vec_id = p.vec_id
GROUP BY e.label ORDER BY e.label
"""


ROUND9_QUERIES["semdedup_lsh_prune"] = (
    q_semdedup_lsh_prune,
    oracle_bigint(
        _semdedup_sql(), "n_vecs", "n_pruned", "n_kept", "prune_permille"
    ),
)


# ---------------------------------------------------------------------------
# merkle_replica_diff — bucket-digest replica reconciliation
# ---------------------------------------------------------------------------

_MERKLE_BUCKETS = 64
_DROP_MOD = 997  # replica B lost rows with o_orderkey % 997 == 0
_CORRUPT_MOD = 1009  # replica B corrupted prices where % 1009 == 0


def q_merkle_replica_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style replica reconciliation: two copies of ``orders``
    (replica B deterministically LOST every 997th key and CORRUPTED
    every 1009th price) are each reduced to per-bucket content digests
    — XOR-fold of a 60-bit md5 row digest, keyed on
    ``o_orderkey mod 64`` — and only buckets whose digests disagree
    are reported.  This is how two 100 TB replicas diff without
    shipping rows: O(buckets) digests cross the wire, then only the
    mismatched buckets re-sync (recursing into sub-buckets at real
    scale).

    XOR is the right fold: order-insensitive, overflow-free, and a
    row present in both replicas cancels exactly.

    Scale design: row digests are map-side md5 expressions; each
    replica aggregates once on the bucket key (64 groups); the diff is
    a 64-row join.  No replica ever shuffles fact rows to the other.
    """
    from etl_portofolio_spark.functions.hashing import h60

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("price_c")
    )
    replica_b = orders.where(
        F.col("o_orderkey") % _DROP_MOD != 0
    ).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % _CORRUPT_MOD == 0, F.col("price_c") + 1
        )
        .otherwise(F.col("price_c"))
        .alias("price_c"),
    )

    def digests(df: DataFrame, n_col: str, x_col: str) -> DataFrame:
        row_digest = h60(
            F.concat_ws(
                ":", F.col("o_orderkey").cast("string"), F.col("price_c")
            )
        )
        return (
            df.select(
                (F.col("o_orderkey") % _MERKLE_BUCKETS).alias("bucket"),
                row_digest.alias("d"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias(n_col),
                F.expr("bit_xor(d)").cast("long").alias(x_col),
            )
        )

    a = digests(orders, "n_a", "x_a")
    b = digests(replica_b, "n_b", "x_b")
    return (
        a.join(b, "bucket", "full_outer")
        .where(
            (F.col("x_a") != F.col("x_b"))
            | F.col("x_a").isNull()
            | F.col("x_b").isNull()
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
            (F.coalesce("n_a", F.lit(0)) - F.coalesce("n_b", F.lit(0)))
            .cast("long")
            .alias("rows_missing"),
        )
        .orderBy("bucket")
    )


_MERKLE_SQL = oracle_bigint(
    f"""
WITH a_rows AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c
  FROM orders
), b_rows AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {_CORRUPT_MOD} = 0 THEN price_c + 1
              ELSE price_c END AS price_c
  FROM a_rows WHERE o_orderkey % {_DROP_MOD} <> 0
), a_dig AS (
  SELECT o_orderkey % {_MERKLE_BUCKETS} AS bucket, COUNT(*) AS n_a,
         bit_xor(CAST('0x' || substr(md5(
           CAST(o_orderkey AS VARCHAR) || ':' || CAST(price_c AS VARCHAR)
         ), 1, 15) AS BIGINT)) AS x_a
  FROM a_rows GROUP BY 1
), b_dig AS (
  SELECT o_orderkey % {_MERKLE_BUCKETS} AS bucket, COUNT(*) AS n_b,
         bit_xor(CAST('0x' || substr(md5(
           CAST(o_orderkey AS VARCHAR) || ':' || CAST(price_c AS VARCHAR)
         ), 1, 15) AS BIGINT)) AS x_b
  FROM b_rows GROUP BY 1
)
SELECT COALESCE(a.bucket, b.bucket) AS bucket,
       COALESCE(a.n_a, 0) AS n_a, COALESCE(b.n_b, 0) AS n_b,
       COALESCE(a.n_a, 0) - COALESCE(b.n_b, 0) AS rows_missing
FROM a_dig a FULL OUTER JOIN b_dig b ON a.bucket = b.bucket
WHERE a.x_a <> b.x_b OR a.x_a IS NULL OR b.x_b IS NULL
ORDER BY bucket
""",
    "bucket",
    "n_a",
    "n_b",
    "rows_missing",
)

ROUND9_QUERIES["merkle_replica_diff"] = (q_merkle_replica_diff, _MERKLE_SQL)


# ---------------------------------------------------------------------------
# mad_outlier_flags — robust per-brand outlier census via double histogram
# ---------------------------------------------------------------------------

_MAD_K = 3  # flag |x - median| > K * MAD


def q_mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per brand: lower-median part price, the
    median absolute deviation around it, and how many parts sit more
    than ``K x MAD`` away — the outlier rule that survives the heavy
    tails that wreck mean/stddev z-scores.  All in integer cents; both
    medians are LOWER medians (first value whose cumulative count
    reaches half), deterministic in both engines.

    Relation to ``robust_outlier_mad`` (extension_queries.py:359): that
    earlier query computes per-event-type MAD via ``F.percentile``,
    which SORTS every group's fact rows — fine at its cardinality,
    wrong at 100 TB.  This one exists to pin the scale-correct
    formulation: both medians come from count-histogram walks — group
    to (brand, value) cells first (bounded by the price domain),
    cumulative-sum inside the brand, pick by integer comparison —
    never a per-row rank over fact cardinality.  The final census is
    one broadcast join of the 25-row (median, MAD) panel back to the
    scan.
    """
    from etl_portofolio_spark.caching import scoped_persist

    part = scoped_persist(
        load_table(spark, sf_dir, "part").select(
            "p_brand", cents("p_retailprice").alias("price_c")
        )
    )

    def lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        cells = df.groupBy("p_brand", val).agg(
            F.count(F.lit(1)).alias("c")
        )
        wb = (
            Window.partitionBy("p_brand")
            .orderBy(val)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        walked = cells.withColumn("cum", F.sum("c").over(wb)).withColumn(
            "n_g", F.sum("c").over(Window.partitionBy("p_brand"))
        )
        return (
            walked.where(2 * F.col("cum") >= F.col("n_g"))
            .groupBy("p_brand")
            .agg(F.min(val).cast("long").alias(out))
        )

    med = lower_median(part, "price_c", "med_c")
    devs = part.join(F.broadcast(med), "p_brand").select(
        "p_brand", F.abs(F.col("price_c") - F.col("med_c")).alias("absdev")
    )
    mad = lower_median(devs, "absdev", "mad_c")
    panel = med.join(mad, "p_brand")
    return (
        part.join(F.broadcast(panel), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.max("med_c").alias("med_price_c"),
            F.max("mad_c").alias("mad_c"),
            F.sum(
                (
                    F.abs(F.col("price_c") - F.col("med_c"))
                    > _MAD_K * F.col("mad_c")
                ).cast("int")
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .withColumn(
            "outlier_permille",
            F.expr("(1000 * n_outliers) div n_parts").cast("long"),
        )
        .orderBy("p_brand")
    )


_MAD_SQL = oracle_bigint(
    f"""
WITH part_c AS (
  SELECT p_brand, CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_c
  FROM part
), cells AS (
  SELECT p_brand, price_c, COUNT(*) AS c FROM part_c GROUP BY 1, 2
), walked AS (
  SELECT p_brand, price_c,
         SUM(c) OVER (PARTITION BY p_brand ORDER BY price_c
           ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY p_brand) AS n_g
  FROM cells
), med AS (
  SELECT p_brand, MIN(price_c) AS med_c FROM walked
  WHERE 2 * cum >= n_g GROUP BY p_brand
), devs AS (
  SELECT p.p_brand, ABS(p.price_c - m.med_c) AS absdev
  FROM part_c p JOIN med m ON p.p_brand = m.p_brand
), dcells AS (
  SELECT p_brand, absdev, COUNT(*) AS c FROM devs GROUP BY 1, 2
), dwalked AS (
  SELECT p_brand, absdev,
         SUM(c) OVER (PARTITION BY p_brand ORDER BY absdev
           ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY p_brand) AS n_g
  FROM dcells
), mad AS (
  SELECT p_brand, MIN(absdev) AS mad_c FROM dwalked
  WHERE 2 * cum >= n_g GROUP BY p_brand
)
SELECT p.p_brand, COUNT(*) AS n_parts, MAX(m.med_c) AS med_price_c,
       MAX(d.mad_c) AS mad_c,
       SUM(CASE WHEN ABS(p.price_c - m.med_c) > {_MAD_K} * d.mad_c
                THEN 1 ELSE 0 END) AS n_outliers,
       (1000 * SUM(CASE WHEN ABS(p.price_c - m.med_c) > {_MAD_K} * d.mad_c
                THEN 1 ELSE 0 END)) // COUNT(*) AS outlier_permille
FROM part_c p JOIN med m ON p.p_brand = m.p_brand
              JOIN mad d ON p.p_brand = d.p_brand
GROUP BY p.p_brand ORDER BY p.p_brand
""",
    "n_parts",
    "med_price_c",
    "mad_c",
    "n_outliers",
    "outlier_permille",
)

ROUND9_QUERIES["mad_outlier_flags"] = (q_mad_outlier_flags, _MAD_SQL)
