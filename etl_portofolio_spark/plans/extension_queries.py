"""Round-3 second-wave queries: CDC snapshot diff, deterministic
dataset splits, text normalization, vector QC, quantile sketch gate.

Same contract as the sibling plan modules: pure DataFrame plans over
``catalog.load_table`` with exact DuckDB oracles, cross-engine
determinism rules throughout (integer cents, md5-based hashing via
``functions.hashing``, DuckDB sums cast to BIGINT to avoid HUGEINT,
double outputs only from identical expression trees or rounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.functions.hashing import h32, h32_sql
from etl_portofolio_spark.operators import cdc, similarity, text
from etl_portofolio_spark.plans.analytics_queries import cents, _sql_cents

#: DuckDB twin of text.tokens() — whitespace tokens of lowercased text.
_SQL_TOKENS = r"regexp_split_to_array(lower(trim({col})), '\s+')"


# --- change-data-capture ------------------------------------------------------

_CDC_CUT_OLD = "1997-01-01"
_CDC_CUT_NEW = "1997-07-01"


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change log between two snapshots of ``orders``, summarized
    per change_type with an order-insensitive key checksum.

    The old snapshot is orders before ``1997-01-01``; the new one
    extends to ``1997-07-01`` (inserts), drops keys ``% 97 == 0``
    (deletes), and bumps price by 5 dollars for keys ``% 50 == 0``
    (updates) — a deterministic simulation of a day of OLTP churn, the
    incremental twin of the reference's truncate-and-reload partitions
    (Ingestion Data (MySQL).py:58-65). One full-outer join on the
    primary key; see operators/cdc.py for the 100 TB notes."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        "o_orderstatus",
        cents("o_totalprice").alias("price_c"),
    )
    old = base.where(F.col("o_orderdate") < F.lit(_CDC_CUT_OLD).cast("timestamp"))
    new = (
        base.where(F.col("o_orderdate") < F.lit(_CDC_CUT_NEW).cast("timestamp"))
        .where(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "price_c",
            F.when(
                F.col("o_orderkey") % 50 == 0, F.col("price_c") + F.lit(500)
            ).otherwise(F.col("price_c")),
        )
    )
    log = cdc.snapshot_diff(
        old.drop("o_orderdate"),
        new.drop("o_orderdate"),
        keys=("o_orderkey",),
        tracked=("price_c", "o_orderstatus"),
    )
    return (
        log.where(F.col("change_type") != "unchanged")
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h32(F.col("o_orderkey").cast("string"))).alias("key_checksum"),
        )
    )


ORACLE_CDC_DIFF = f"""
WITH base AS (
  SELECT o_orderkey, o_orderdate, o_orderstatus,
         {_sql_cents("o_totalprice")} AS price_c
  FROM orders
), old AS (
  SELECT * FROM base WHERE o_orderdate < TIMESTAMP '{_CDC_CUT_OLD}'
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 50 = 0 THEN price_c + 500 ELSE price_c END
           AS price_c
  FROM base
  WHERE o_orderdate < TIMESTAMP '{_CDC_CUT_NEW}' AND o_orderkey % 97 <> 0
), log AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN o.price_c IS DISTINCT FROM n.price_c
                   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                THEN 'update'
              ELSE 'unchanged' END AS change_type
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT change_type, count(*) AS n_rows,
       CAST(sum({h32_sql("CAST(k AS VARCHAR)")}) AS BIGINT) AS key_checksum
FROM log WHERE change_type <> 'unchanged'
GROUP BY change_type
"""


# --- deterministic dataset split ---------------------------------------------

_SPLIT_SALT = "split:"


def q_dataset_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free deterministic train/val/test split manifest.

    ``split = h32('split:' || doc_id) % 1000`` → train (<900) / val
    (<950) / test — the standard content-addressed split: stable across
    runs and cluster sizes, no global sort, no sampling state, and a
    doc never migrates between splits as the corpus grows. Output is
    the per-(split, source) manifest a training job consumes: doc
    count, token sum, char sum. Single map-side-combinable pass."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = h32(F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string"))) % 1000
    split = (
        F.when(bucket < 900, F.lit("train"))
        .when(bucket < 950, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(
            split.alias("split"),
            "source",
            F.size(text.tokens("text")).cast("long").alias("__tok"),
            "n_chars",
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__tok").alias("tok_sum"),
            F.sum("n_chars").alias("char_sum"),
        )
    )


ORACLE_SPLIT_MANIFEST = f"""
WITH b AS (
  SELECT source, n_chars,
         {h32_sql(f"'{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
         len({_SQL_TOKENS.format(col="text")}) AS tok
  FROM documents
)
SELECT CASE WHEN bucket < 900 THEN 'train'
            WHEN bucket < 950 THEN 'val'
            ELSE 'test' END AS split,
       source,
       count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS tok_sum,
       CAST(sum(n_chars) AS BIGINT) AS char_sum
FROM b
GROUP BY 1, 2
"""


# --- text normalization -------------------------------------------------------

#: Fixed accent-fold map (translate is 1:1 codepoint, identical in both
#: engines). Full Unicode NFC/NFKC needs a library neither engine
#: ships as a builtin; this is the deterministic in-engine subset.
_ACCENTS = "áàâäãåéèêëíìîïóòôöõúùûüçñýÿ"
_PLAIN = "aaaaaaeeeeiiiiooooouuuucnyy"
assert len(_ACCENTS) == len(_PLAIN)


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization: trim → lower → accent-fold
    (fixed translate map) → whitespace collapse, emitting the
    normalized-content hash used by downstream exact dedup. Pure
    codegen string expressions — at 100 TB this runs at scan speed
    with zero shuffles (the output is one row per input row)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.translate(F.lower(F.trim(F.col("text"))), _ACCENTS, _PLAIN),
        r"\s+",
        " ",
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


ORACLE_TEXT_NORMALIZE = rf"""
WITH n AS (
  SELECT doc_id, text,
         regexp_replace(
           translate(lower(trim(text)), '{_ACCENTS}', '{_PLAIN}'),
           '\s+', ' ', 'g') AS norm
  FROM documents
)
SELECT doc_id,
       md5(norm) AS norm_hash,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(norm) AS BIGINT) AS n_chars_norm
FROM n
"""


# --- embedding quality check --------------------------------------------------


def q_embedding_quality_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector QC before indexing: dimension, L2 norm, zero-element and
    non-finite counts, unit-norm flag. Higher-order functions over the
    double-cast array — sequential IEEE folds identical to the DuckDB
    list_reduce twin (same proven idiom as the ANN cosine oracles).
    Map-only: no shuffle, no Python."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    l2 = similarity.norm(v)
    inf = F.lit(float("inf"))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        l2.alias("l2_norm"),
        F.size(F.filter(v, lambda x: x == 0.0)).cast("long").alias("n_zero"),
        F.size(F.filter(v, lambda x: F.isnan(x) | (F.abs(x) == inf)))
        .cast("long")
        .alias("n_nonfinite"),
        (F.abs(l2 - F.lit(1.0)) < F.lit(0.01)).alias("is_unit"),
    )


_SQL_L2 = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),"
    " (x, y) -> x + y))"
)

ORACLE_EMBEDDING_QC = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT vec_id,
       CAST(len(v) AS BIGINT) AS dim,
       {_SQL_L2} AS l2_norm,
       CAST(len(list_filter(v, x -> x = 0.0)) AS BIGINT) AS n_zero,
       CAST(len(list_filter(v, x -> isnan(x) OR isinf(x))) AS BIGINT)
         AS n_nonfinite,
       abs({_SQL_L2} - 1.0) < 0.01 AS is_unit
FROM e
"""


# --- quantile sketch gate -----------------------------------------------------


def q_quantile_sketch_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of order value per return flag, plus a
    'sketch within 2%' gate on the approximate-percentile path. Same
    contract as approx_distinct_gate: the hashed output carries the
    exact values (interpolated percentile over integer cents, rounded
    4 dp) and the accuracy boolean — the sketch values themselves are
    engine-specific (GK vs t-digest). At 100 TB the approx variant is
    one mergeable pass; exact percentile needs a full sort per group."""
    li = load_table(spark, sf_dir, "lineitem")
    c = cents("l_extendedprice")
    rows = li.select(F.col("l_returnflag").alias("flag"), c.alias("c"))
    exact = [
        F.round(F.percentile("c", F.lit(q)), 4).alias(name)
        for q, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
    ]
    return rows.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        *exact,
        (
            F.abs(F.percentile_approx("c", 0.5) - F.percentile("c", F.lit(0.5)))
            <= 0.02 * F.percentile("c", F.lit(0.5))
        ).alias("approx_ok"),
    )


ORACLE_QUANTILE_GATE = f"""
SELECT l_returnflag AS flag,
       count(*) AS n,
       round(quantile_cont({_sql_cents("l_extendedprice")}, 0.5), 4) AS p50,
       round(quantile_cont({_sql_cents("l_extendedprice")}, 0.9), 4) AS p90,
       round(quantile_cont({_sql_cents("l_extendedprice")}, 0.99), 4) AS p99,
       abs(approx_quantile({_sql_cents("l_extendedprice")}, 0.5)
           - quantile_cont({_sql_cents("l_extendedprice")}, 0.5))
         <= 0.02 * quantile_cont({_sql_cents("l_extendedprice")}, 0.5)
         AS approx_ok
FROM lineitem
GROUP BY l_returnflag
"""



# --- data-contract validation -------------------------------------------------


def q_contract_violations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract check on lineitem, reported per line
    status: total rows, per-rule violation counts, rows failing any
    rule. Thresholds are deliberately tighter than the data's envelope
    so the report is non-trivial. One combinable pass — see
    operators/contracts.py for the 100 TB notes."""
    from etl_portofolio_spark.operators.contracts import violations_report

    li = load_table(spark, sf_dir, "lineitem")
    rules = {
        "qty_range": F.col("l_quantity").between(1, 45),
        "discount_max": F.col("l_discount") <= 0.08,
        "tax_max": F.col("l_tax") <= 0.06,
        "price_positive": F.col("l_extendedprice") > 0,
        "flag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        "key_nonnull": F.col("l_orderkey").isNotNull(),
    }
    return violations_report(li, rules, group_by=("l_linestatus",))


ORACLE_CONTRACT_REPORT = """
WITH r AS (
  SELECT l_linestatus,
         COALESCE(l_quantity BETWEEN 1 AND 45, FALSE) AS ok_qty,
         COALESCE(l_discount <= 0.08, FALSE) AS ok_disc,
         COALESCE(l_tax <= 0.06, FALSE) AS ok_tax,
         COALESCE(l_extendedprice > 0, FALSE) AS ok_price,
         COALESCE(l_returnflag IN ('A', 'N', 'R'), FALSE) AS ok_flag,
         COALESCE(l_orderkey IS NOT NULL, FALSE) AS ok_key
  FROM lineitem
)
SELECT l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN NOT ok_qty THEN 1 ELSE 0 END) AS BIGINT) AS v_qty_range,
       CAST(sum(CASE WHEN NOT ok_disc THEN 1 ELSE 0 END) AS BIGINT) AS v_discount_max,
       CAST(sum(CASE WHEN NOT ok_tax THEN 1 ELSE 0 END) AS BIGINT) AS v_tax_max,
       CAST(sum(CASE WHEN NOT ok_price THEN 1 ELSE 0 END) AS BIGINT) AS v_price_positive,
       CAST(sum(CASE WHEN NOT ok_flag THEN 1 ELSE 0 END) AS BIGINT) AS v_flag_domain,
       CAST(sum(CASE WHEN NOT ok_key THEN 1 ELSE 0 END) AS BIGINT) AS v_key_nonnull,
       CAST(sum(CASE WHEN NOT (ok_qty AND ok_disc AND ok_tax AND ok_price
                               AND ok_flag AND ok_key) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_bad
FROM r
GROUP BY l_linestatus
"""




# --- robust outlier detection -------------------------------------------------


def q_robust_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier report via median absolute deviation:
    median and MAD of event value (integer cents), and how many rows
    sit more than 3 MADs from the median — the outlier filter that
    survives heavy tails where mean/stddev break. Two grouped passes
    (median, then deviations) joined back on the group key; the second
    pass reuses the first as a broadcast (|groups| rows). Exact
    interpolated medians agree across engines over integer inputs
    (same contract as quantile_sketch_gate), rounded 4 dp as a belt."""
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("event_type", cents("value").alias("c"))
    med = rows.groupBy("event_type").agg(
        F.round(F.percentile("c", F.lit(0.5)), 4).alias("med_c")
    )
    dev = (
        rows.join(F.broadcast(med), "event_type")
        .select("event_type", "c", "med_c", F.abs(F.col("c") - F.col("med_c")).alias("d"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("d", F.lit(0.5)), 4).alias("mad_c"),
        F.first("med_c").alias("med_keep"),
    )
    out = (
        dev.join(F.broadcast(mad.select("event_type", "mad_c")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("d") > 3 * F.col("mad_c")).cast("long")).alias("n_outliers"),
        )
    )
    return out.join(
        mad.select("event_type", F.col("med_keep").alias("med_c"), "mad_c"),
        "event_type",
    ).select("event_type", "n", "med_c", "mad_c", "n_outliers")


ORACLE_ROBUST_MAD = f"""
WITH r AS (
  SELECT event_type, {_sql_cents("value")} AS c FROM events
), m AS (
  SELECT event_type, round(quantile_cont(c, 0.5), 4) AS med_c
  FROM r GROUP BY event_type
), d AS (
  SELECT r.event_type, r.c, m.med_c, abs(r.c - m.med_c) AS dv
  FROM r JOIN m ON r.event_type = m.event_type
), md AS (
  SELECT event_type, round(quantile_cont(dv, 0.5), 4) AS mad_c
  FROM d GROUP BY event_type
)
SELECT d.event_type,
       count(*) AS n,
       any_value(d.med_c) AS med_c,
       any_value(md.mad_c) AS mad_c,
       CAST(sum(CASE WHEN d.dv > 3 * md.mad_c THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM d JOIN md ON d.event_type = md.event_type
GROUP BY d.event_type
"""

# --- NOT IN three-valued logic ------------------------------------------------

#: Dialect-neutral: runs unmodified on Spark AND DuckDB (its own oracle).
_NOT_IN_TEXT = """
SELECT
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_no_orders,
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
                                       ELSE o_custkey END
                           FROM orders)) AS n_with_null_probe
"""


def q_not_in_three_valued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN under SQL three-valued logic, both branches in one
    statement: against a null-free subquery it is the anti-join count
    (customers without orders); with a single NULL injected into the
    subquery the predicate can never be TRUE and the count collapses
    to 0 — the classic footgun, pinned identically on both engines.
    Spark plans the null-aware branch as a null-aware anti join
    (broadcast single-column NAAJ), not a per-row subquery."""
    from etl_portofolio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_NOT_IN_TEXT)



EXTENSION_QUERIES = {
    "cdc_snapshot_diff": (q_cdc_snapshot_diff, ORACLE_CDC_DIFF),
    "dataset_split_manifest": (q_dataset_split_manifest, ORACLE_SPLIT_MANIFEST),
    "text_normalize": (q_text_normalize, ORACLE_TEXT_NORMALIZE),
    "embedding_quality_check": (q_embedding_quality_check, ORACLE_EMBEDDING_QC),
    "quantile_sketch_gate": (q_quantile_sketch_gate, ORACLE_QUANTILE_GATE),
    "contract_violations_report": (
        q_contract_violations_report,
        ORACLE_CONTRACT_REPORT,
    ),
    "robust_outlier_mad": (q_robust_outlier_mad, ORACLE_ROBUST_MAD),
    "not_in_three_valued": (q_not_in_three_valued, _NOT_IN_TEXT),
}
