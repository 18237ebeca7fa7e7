"""Round-5 third wave: retrieval scoring + training-batch economics + QA.

Four queries closing gaps a training-data platform still had open:
BM25 ranked retrieval (the lexical scorer every dedup/decontamination
stack pairs with embedding search), an embedding-norm QA audit (the
degenerate-vector gate run before any ANN index build), a
sequence-length bucketing audit (the padding-waste economics of batch
assembly), and a trailing z-score anomaly detector over daily revenue
(the ops-side drift alarm).

Cross-engine determinism follows the house rules: money and counts as
integers, double sums routed through DECIMAL accumulators
(order-independent), transcendentals rounded to 6 BEFORE any ranking
or comparison (the r5 ``text_tfidf_topk`` 1-ulp lesson), ranking ties
broken on the unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.operators import text
from etl_portofolio_spark.plans.analytics_queries import cents
from etl_portofolio_spark.plans.pipeline_queries import _SQL_TOKENS

# ---------------------------------------------------------------------------
# BM25 top-k retrieval
# ---------------------------------------------------------------------------

#: the query panel: constant literals, so the per-doc explode filters to
#: an IN-list long before any join — no vocab table materializes
_BM25_TERMS = ("spark", "join", "partition")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 25


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents for a fixed term panel under BM25 — the lexical
    ranker next to the engine's embedding ANN family (production
    retrieval and contamination audits run both and merge).

    Scale shape: the token array is FILTERED to the panel IN-list
    before the explode (map-only; fan-out bounded by panel hits per
    doc, not document length), term document-frequencies and the
    corpus length stats are tiny aggregate frames that BROADCAST into
    the scoring projection — nothing joins on the full vocabulary,
    nothing shuffles rows beyond one (doc, term) groupBy bounded by
    |docs|·|panel|.  The top-k itself is ``orderBy().limit()`` —
    Spark's TakeOrderedAndProject, a per-partition partial top-k
    merged on the driver, NEVER a single-task global sort over every
    scored doc.  IDF and the length normalization are doubles from
    identical expression trees, rounded to 6 before the rank; doc_id
    breaks score ties.
    """
    from etl_portofolio_spark.caching import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    arr = docs.select("doc_id", text.tokens("text").alias("toks"))
    toks = arr.select(
        "doc_id",
        F.explode(
            F.filter("toks", lambda x: x.isin(*_BM25_TERMS))
        ).alias("term"),
    )
    # dl is |docs| narrow rows read by stats AND the per-term scoring
    # join; tf is |docs with hits| x 3 read by df_t AND per_term —
    # scoped-persist both so the documents scan+tokenize runs twice
    # (toks, dl), not once per downstream branch. The token-array frame
    # itself is deliberately NOT cached: at 100 TB it is corpus-sized,
    # and two scans beat caching a corpus.
    dl = scoped_persist(
        arr.select("doc_id", F.size("toks").cast("long").alias("dl"))
    )
    # avgdl as exact integer sum / count, divided in DOUBLE — Spark's
    # decimal avg() rounds to 4 fractional digits while DuckDB's avg()
    # returns a double; the explicit division is identical in both
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    tf = scoped_persist(
        toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
        + 1.0
    )
    norm = F.col("tf").cast("double") * (_BM25_K1 + 1.0) / (
        F.col("tf").cast("double")
        + _BM25_K1
        * (
            1.0
            - _BM25_B
            + _BM25_B
            * F.col("dl").cast("double")
            / F.col("avgdl").cast("double")
        )
    )
    per_term = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        # per-(doc,term) partial rounded to 9: the per-doc sum of <=3
        # exact-to-9 terms stays exact, so the final round to 6 cannot
        # straddle a libm ulp
        .select(
            "doc_id",
            F.round(idf * norm, 9).cast("decimal(20,9)").alias("s_term"),
        )
    )
    scored = per_term.groupBy("doc_id").agg(
        F.round(F.sum("s_term").cast("double"), 6).alias("bm25_score")
    )
    top = scored.orderBy(F.desc("bm25_score"), F.asc("doc_id")).limit(_BM25_TOPK)
    # rank assignment runs on the ≤k-row result of the distributed
    # top-k — the single-partition window touches k rows, not the corpus
    w = Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))
    return top.select(
        "doc_id", "bm25_score", F.row_number().over(w).alias("rnk")
    )


def _oracle_bm25() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    toks = _SQL_TOKENS.format(col="text")
    return f"""
WITH dl AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS dl FROM documents
), stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
), hits AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, unnest({toks}) AS t FROM documents)
  WHERE t IN ({terms})
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2
), dft AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), per_term AS (
  SELECT tf.doc_id,
         CAST(round(
           ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
              / (CAST(df AS DOUBLE) + 0.5) + 1.0)
           * (CAST(tf AS DOUBLE) * ({_BM25_K1} + 1.0)
              / (CAST(tf AS DOUBLE)
                 + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * CAST(dl AS DOUBLE)
                      / CAST(avgdl AS DOUBLE)))), 9) AS DECIMAL(20,9))
           AS s_term
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), stats
), scored AS (
  SELECT doc_id, round(CAST(sum(s_term) AS DOUBLE), 6) AS bm25_score
  FROM per_term GROUP BY doc_id
)
SELECT doc_id, bm25_score,
       CAST(row_number() OVER (ORDER BY bm25_score DESC, doc_id) AS INTEGER)
         AS rnk
FROM scored
QUALIFY rnk <= {_BM25_TOPK}
"""


# ---------------------------------------------------------------------------
# Embedding-norm QA audit
# ---------------------------------------------------------------------------


def q_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding hygiene: vector count, near-zero-norm count,
    and min/mean/max L2 norm — the QA gate run BEFORE an ANN index
    build (degenerate vectors poison cosine similarity silently; a
    label whose norms collapse flags an upstream encoder bug).

    The per-vector norm is a sequential left-fold over the array
    (``F.aggregate`` — identical element order in both engines, so
    the double accumulation is bit-reproducible), rounded to 9;
    cross-vector aggregation then runs on DECIMAL(20,9) — exact and
    order-independent, the house rule for double sums.  One combinable
    groupBy on the label; map-only before it.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sumsq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm = F.round(F.sqrt(sumsq), 9).cast("decimal(20,9)")
    per_vec = emb.select("label", norm.alias("norm"))
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("norm") < 0.001).cast("long")).alias("n_near_zero"),
            F.min("norm").alias("min_norm"),
            F.round(F.avg("norm"), 6).alias("mean_norm"),
            F.max("norm").alias("max_norm"),
        )
        .select(
            "label",
            "n_vecs",
            "n_near_zero",
            F.col("min_norm").cast("double").alias("min_norm"),
            F.col("mean_norm").cast("double").alias("mean_norm"),
            F.col("max_norm").cast("double").alias("max_norm"),
        )
    )


ORACLE_EMBEDDING_NORM = """
WITH pv AS (
  SELECT label,
         CAST(round(sqrt(list_aggregate(
           list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           'sum')), 9) AS DECIMAL(20,9)) AS norm
  FROM embeddings
)
SELECT label, count(*) AS n_vecs,
       CAST(sum(CASE WHEN norm < 0.001 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_zero,
       CAST(min(norm) AS DOUBLE) AS min_norm,
       CAST(round(avg(norm), 6) AS DOUBLE) AS mean_norm,
       CAST(max(norm) AS DOUBLE) AS max_norm
FROM pv GROUP BY label
"""


# ---------------------------------------------------------------------------
# Sequence-length bucketing: the padding-waste economics of batching
# ---------------------------------------------------------------------------


def q_length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents binned into power-of-two token-length buckets with the
    padding cost each bucket pays — the batch-assembly economics audit:
    padded = n_docs x bucket_ceiling, waste = padded - real tokens.
    A fat waste share says the bucketing (or the packing strategy —
    ``token_packing_manifest``) needs revisiting before a training run
    burns compute on pad tokens.

    Bucket = 2^ceil(log2(len)) computed with BIT LENGTH arithmetic
    (``ceil(log2)`` via the bit width of len-1 — integer-exact, no
    float log anywhere near a boundary).  One combinable groupBy over
    ~a dozen buckets; everything before it is map-only.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = text.token_count_ws("text").cast("long")
    # ceil_pow2(n) = 1 << bit_length(n-1); bit_length via the hex trick
    # is engine-dependent, so use the portable shiftleft(1, ceil) with
    # ceil from repeated comparisons: floor(log2(x)) = width of x in
    # bits - 1. Both engines agree on integer FLOOR(LOG2(x)) only away
    # from boundaries; exact form: find b such that 2^(b-1) < n <= 2^b
    # via the monotone bit-shift comparison chain below (n <= 2^20).
    lens = docs.select("doc_id", n.alias("n_tok"))
    bucket = F.lit(1)
    for b in range(1, 21):
        bucket = F.when(F.col("n_tok") > F.lit(1 << (b - 1)), F.lit(1 << b)).otherwise(
            bucket
        )
    with_bucket = lens.select("doc_id", "n_tok", bucket.alias("bucket_len"))
    return (
        with_bucket.groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("real_tokens"),
        )
        .select(
            "bucket_len",
            "n_docs",
            "real_tokens",
            (F.col("n_docs") * F.col("bucket_len") - F.col("real_tokens")).alias(
                "pad_tokens"
            ),
            F.round(
                (
                    F.col("n_docs") * F.col("bucket_len") - F.col("real_tokens")
                ).cast("double")
                / (F.col("n_docs") * F.col("bucket_len")).cast("double"),
                6,
            ).alias("waste_share"),
        )
    )


def _oracle_length_buckets() -> str:
    toks = _SQL_TOKENS.format(col="text")
    chain = "1"
    for b in range(1, 21):
        chain = f"CASE WHEN n_tok > {1 << (b - 1)} THEN {1 << b} ELSE {chain} END"
    return f"""
WITH lens AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tok FROM documents
), bk AS (
  SELECT doc_id, n_tok, CAST({chain} AS BIGINT) AS bucket_len FROM lens
), g AS (
  SELECT bucket_len, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS real_tokens
  FROM bk GROUP BY bucket_len
)
SELECT bucket_len, n_docs, real_tokens,
       CAST(n_docs * bucket_len - real_tokens AS BIGINT) AS pad_tokens,
       round(CAST(n_docs * bucket_len - real_tokens AS DOUBLE)
             / CAST(n_docs * bucket_len AS DOUBLE), 6) AS waste_share
FROM g
"""


# ---------------------------------------------------------------------------
# Daily-revenue anomaly: trailing z-score drift alarm
# ---------------------------------------------------------------------------

_ZS_WINDOW = 28  # trailing days entering the baseline
_ZS_MIN_N = 8    # baseline must hold at least this many days


def q_daily_revenue_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose revenue sits beyond 2 trailing standard deviations —
    the pipeline-ops drift alarm (a collapsed upstream feed or a
    double-ingested partition shows up here before any consumer does).

    Two-level shape: the raw fact table collapses to one row per day
    FIRST (combinable integer-cents sum — the only big shuffle), and
    the trailing window runs over the day-level frame, whose size is
    bounded by the calendar (~2.4k rows per 7 years) no matter how
    many trillions of fact rows fed it.  Variance comes from exact
    integer sums (sum, sum-of-squares as DECIMAL(38,0)) — one double
    sqrt at the end, identical tree both engines, rounded to 6.
    Excluding the current day from its own baseline keeps the
    detector sensitive to single-day spikes.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("rev_c")
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(-_ZS_WINDOW, -1)
    )
    base = daily.select(
        "day",
        "rev_c",
        F.count(F.lit(1)).over(w).alias("n_base"),
        F.sum(F.col("rev_c").cast("decimal(38,0)")).over(w).alias("s1"),
        F.sum(
            (F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")).cast(
                "decimal(38,0)"
            )
        ).over(w).alias("s2"),
    ).where(F.col("n_base") >= _ZS_MIN_N)
    n = F.col("n_base").cast("double")
    mean = F.col("s1").cast("double") / n
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * mean) / (
        n - 1.0
    )
    z = (F.col("rev_c").cast("double") - mean) / F.sqrt(var)
    return (
        base.select(
            "day",
            "rev_c",
            "n_base",
            F.round(z, 6).alias("zscore"),
        )
        .where(F.abs(F.col("zscore")) > 2.0)
    )


ORACLE_DAILY_ANOMALY = f"""
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1
), base AS (
  SELECT day, rev_c,
         count(*) OVER tw AS n_base,
         sum(CAST(rev_c AS DECIMAL(38,0))) OVER tw AS s1,
         sum(CAST(CAST(rev_c AS DECIMAL(38,0)) * rev_c AS DECIMAL(38,0)))
           OVER tw AS s2
  FROM daily
  WINDOW tw AS (ORDER BY day ROWS BETWEEN {_ZS_WINDOW} PRECEDING
                AND 1 PRECEDING)
), z AS (
  SELECT day, rev_c, n_base,
         round((CAST(rev_c AS DOUBLE) - CAST(s1 AS DOUBLE) / n_base)
               / sqrt((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE)
                         * (CAST(s1 AS DOUBLE) / n_base))
                      / (n_base - 1.0)), 6) AS zscore
  FROM base WHERE n_base >= {_ZS_MIN_N}
)
SELECT day, rev_c, CAST(n_base AS BIGINT) AS n_base, zscore
FROM z WHERE abs(zscore) > 2.0
"""


#: dict the registry splices in: name -> (query fn, oracle sql or None)
ROUND5G_QUERIES: dict = {
    "bm25_topk": (q_bm25_topk, _oracle_bm25()),
    "embedding_norm_audit": (q_embedding_norm_audit, ORACLE_EMBEDDING_NORM),
    "length_bucket_padding": (q_length_bucket_padding, _oracle_length_buckets()),
    "daily_revenue_anomaly": (q_daily_revenue_anomaly, ORACLE_DAILY_ANOMALY),
}


# ---------------------------------------------------------------------------
# Population Stability Index: distribution drift between snapshot cuts
# ---------------------------------------------------------------------------

from etl_portofolio_spark.plans.extension_queries import (  # noqa: E402
    _CDC_CUT_NEW,
    _CDC_CUT_OLD,
)

#: fixed integer-cents band edges — constant boundaries, so bucketing is
#: engine-exact (baseline-quantile buckets would couple the bucket map
#: to a percentile implementation)
_PSI_EDGES_C = (5_000_00, 10_000_00, 15_000_00, 20_000_00, 30_000_00)


def q_histogram_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-price distribution
    between the two CDC snapshot cuts — the numeric companion to
    ``schema_drift_report``: schema equality and min/max can both hold
    while the SHAPE of the distribution walks away; PSI is the
    standard promote-or-alarm score for that.

    Each snapshot histograms once over fixed integer-cents bands (one
    combinable groupBy over a 6-value domain — map-side partials
    collapse it); the band frames full-outer join on the band id
    (≤6 rows — free), counts get +1 Laplace smoothing (integer-exact,
    no epsilon constants), and the PSI term
    (share_new − share_old)·ln(share_new/share_old) is the only
    double, rounded to 6. At 100 TB each snapshot pass is one scan;
    the report is O(bands).
    """
    orders = load_table(spark, sf_dir, "orders")
    c = cents("o_totalprice")
    band = F.lit(len(_PSI_EDGES_C))
    for i, e in reversed(list(enumerate(_PSI_EDGES_C))):
        band = F.when(c < F.lit(e), F.lit(i)).otherwise(band)

    def hist(cut, tag):
        return (
            orders.where(
                F.col("o_orderdate") < F.lit(cut).cast("timestamp")
            )
            .groupBy(band.alias("band"))
            .agg(F.count(F.lit(1)).alias(f"n_{tag}"))
        )

    old = hist(_CDC_CUT_OLD, "old")
    new = hist(_CDC_CUT_NEW, "new")
    joined = (
        old.join(new, "band", "full_outer")
        .select(
            "band",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    tot = joined.agg(
        F.sum(F.col("n_old") + 1).alias("t_old"),
        F.sum(F.col("n_new") + 1).alias("t_new"),
    )
    p_old = (F.col("n_old") + 1).cast("double") / F.col("t_old").cast("double")
    p_new = (F.col("n_new") + 1).cast("double") / F.col("t_new").cast("double")
    return joined.crossJoin(F.broadcast(tot)).select(
        "band",
        "n_old",
        "n_new",
        F.round((p_new - p_old) * F.log(p_new / p_old), 6).alias("psi_term"),
    )


def _oracle_psi() -> str:
    chain = str(len(_PSI_EDGES_C))
    for i, e in reversed(list(enumerate(_PSI_EDGES_C))):
        chain = f"CASE WHEN c < {e} THEN {i} ELSE {chain} END"
    return f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c, o_orderdate
  FROM orders
), old AS (
  SELECT {chain} AS band, count(*) AS n_old FROM base
  WHERE o_orderdate < TIMESTAMP '{_CDC_CUT_OLD} 00:00:00' GROUP BY 1
), new AS (
  SELECT {chain} AS band, count(*) AS n_new FROM base
  WHERE o_orderdate < TIMESTAMP '{_CDC_CUT_NEW} 00:00:00' GROUP BY 1
), j AS (
  SELECT COALESCE(old.band, new.band) AS band,
         COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
  FROM old FULL OUTER JOIN new ON old.band = new.band
), t AS (
  SELECT sum(n_old + 1) AS t_old, sum(n_new + 1) AS t_new FROM j
)
SELECT CAST(band AS INTEGER) AS band,
       CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
       round((CAST(n_new + 1 AS DOUBLE) / CAST(t_new AS DOUBLE)
              - CAST(n_old + 1 AS DOUBLE) / CAST(t_old AS DOUBLE))
             * ln((CAST(n_new + 1 AS DOUBLE) / CAST(t_new AS DOUBLE))
                  / (CAST(n_old + 1 AS DOUBLE) / CAST(t_old AS DOUBLE))), 6)
         AS psi_term
FROM j, t
"""


# ---------------------------------------------------------------------------
# Functional-dependency violation audit
# ---------------------------------------------------------------------------

#: candidate FDs: (name, table, lhs, rhs) — one holds by construction
#: (TPC-H brand embeds the manufacturer), two genuinely fail
_FD_CANDIDATES = (
    ("partkey_determines_brand", "part", "p_partkey", "p_brand"),
    ("type_determines_size", "part", "p_type", "p_size"),
    ("nation_determines_segment", "customer", "c_nationkey", "c_mktsegment"),
)


def q_fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the columns obey their assumed functional dependencies?
    For each candidate ``lhs → rhs``: distinct lhs keys, keys mapping
    to MORE than one rhs value (violations), the worst fan-out, and
    the violation share — the contract check a warehouse runs before
    trusting a denormalization or building a dimension from the pair.
    The key-FD (partkey → brand) holds by construction and anchors the
    report's zero line; the other two measure real violation mass.

    Per FD: a two-level aggregation — groupBy(lhs, rhs) count (one
    combinable shuffle on the pair), then groupBy(lhs) variant count
    (narrow second shuffle on lhs), then ONE row of audit scalars.
    The per-FD rows union into the report; each FD is independent, so
    at 100 TB the audits run as parallel stages of one job, never a
    cross-FD join.
    """
    out = None
    for name, table, lhs, rhs in _FD_CANDIDATES:
        df = load_table(spark, sf_dir, table)
        variants = (
            df.groupBy(lhs, rhs)
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy(lhs)
            .agg(F.count(F.lit(1)).alias("n_variants"))
        )
        audit = variants.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum((F.col("n_variants") > 1).cast("long")).alias(
                "n_violating_keys"
            ),
            F.max("n_variants").alias("max_variants"),
            F.round(
                F.sum((F.col("n_variants") > 1).cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("violation_share"),
        )
        out = audit if out is None else out.unionByName(audit)
    return out


def _oracle_fd() -> str:
    parts = []
    for name, table, lhs, rhs in _FD_CANDIDATES:
        parts.append(f"""
SELECT '{name}' AS fd, count(*) AS n_keys,
       CAST(sum(CASE WHEN n_variants > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_keys,
       CAST(max(n_variants) AS BIGINT) AS max_variants,
       round(CAST(sum(CASE WHEN n_variants > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS violation_share
FROM (
  SELECT {lhs}, count(*) AS n_variants
  FROM (SELECT DISTINCT {lhs}, {rhs} FROM {table})
  GROUP BY {lhs}
)""")
    return " UNION ALL ".join(parts)


ROUND5G_QUERIES["histogram_drift_psi"] = (q_histogram_drift_psi, _oracle_psi())
ROUND5G_QUERIES["fd_violation_audit"] = (q_fd_violation_audit, _oracle_fd())
