"""Round-5 second wave, part 2: pipeline observability + LM extensions.

Six queries continuing the LLM-data-pipeline surface: a Benford
first-digit audit (value-distribution anomaly detection), an LSH
bucket-skew audit (the dedup cost model, observable), a scale-safe
weighted systematic sample (prefix sums with NO global-order window),
within-doc token PMI pairs (bounded co-occurrence mining), a bigram
surprise score (the n-gram LM rung above ``unigram_logprob_score``),
and an interval×interval overlap join via a day-bucket grid (the
general form of ``range_join_quantity_bands``'s point-in-band).

Cross-engine determinism: integer counts everywhere; doubles only
from identical expression trees rounded to 6 (log ulps don't survive
rounding); prefix sums and stride picks are exact integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.operators import dedup, text
from etl_portofolio_spark.plans.analytics_queries import cents
from etl_portofolio_spark.plans.pipeline_queries import (
    _SQL_SHINGLES,
    _SQL_TOKENS,
    _sql_band_hash,
    _sql_minhash_aggs,
)

# ---------------------------------------------------------------------------
# Benford first-significant-digit audit
# ---------------------------------------------------------------------------


def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed vs Benford-expected first-significant-digit shares of
    order totals — the classic fabricated-value / unit-mixup detector
    for a pipeline's numeric columns.

    The first significant digit of a positive price is invariant under
    the cents scaling, so it is read off the integer-cents string (no
    float log10 on data values — log10 appears only on the nine
    constant digits).  One groupBy over a 9-value domain: map-side
    partials collapse it; the total enters as a broadcast scalar.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = (
        orders.where(F.col("o_totalprice") > 0)
        .select(
            F.substring(cents("o_totalprice").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = digits.agg(F.sum("n_obs").alias("n_total"))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return digits.crossJoin(F.broadcast(total)).select(
        "digit",
        "n_obs",
        F.round(F.col("n_obs").cast("double") / F.col("n_total").cast("double"), 6)
        .alias("obs_share"),
        F.round(benford, 6).alias("benford_share"),
    )


ORACLE_BENFORD = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                     AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders WHERE o_totalprice > 0
), g AS (
  SELECT digit, count(*) AS n_obs FROM d GROUP BY digit
)
SELECT digit, n_obs,
       round(CAST(n_obs AS DOUBLE) / (SELECT CAST(sum(n_obs) AS DOUBLE) FROM g), 6)
         AS obs_share,
       round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_share
FROM g
"""


# ---------------------------------------------------------------------------
# LSH bucket-skew audit: the dedup cost model, observable
# ---------------------------------------------------------------------------


def q_lsh_bucket_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of MinHash-LSH bucket populations with the candidate
    pairs each size class contributes — the COST MODEL of
    ``dedup_minhash_pairs`` made observable.

    Candidate-pair work is Σ s·(s−1)/2 over buckets: one hot bucket of
    10⁴ docs costs 5·10⁷ comparisons.  At 100 TB this query is the
    pre-flight check run BEFORE the pairs job — same signature/banding
    code path (`operators/dedup.py`), aggregated twice (bucket → size
    class), both shuffles on uniform keys.  A skew spike here means
    band width must grow before the pairs join is launched (the
    round-2 8-bit-simhash lesson, now a query instead of a postmortem).
    """
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text")
    bands = dedup.minhash_bands(sig, "doc_id")
    buckets = bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return (
        buckets.groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .select(
            "bucket_size",
            "n_buckets",
            (
                F.col("n_buckets")
                * (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2).cast(
                    "long"
                )
            ).alias("candidate_pairs"),
        )
    )


def _oracle_bucket_skew() -> str:
    n_bands = dedup.NUM_MINHASHES // dedup.BAND_ROWS
    return f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKENS.format(col='text')} AS t FROM documents
), sh AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='t')} AS s FROM tok
), ex AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), sig AS (
  SELECT doc_id,
         {_sql_minhash_aggs(dedup.NUM_MINHASHES)}
  FROM ex GROUP BY doc_id
), bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band_id,"
      f" {_sql_band_hash(b, dedup.BAND_ROWS)} AS band_hash FROM sig"
      for b in range(n_bands)
  )}
), buckets AS (
  SELECT band_id, band_hash, count(*) AS bucket_size
  FROM bands GROUP BY band_id, band_hash
)
SELECT bucket_size, count(*) AS n_buckets,
       CAST(count(*) * CAST(bucket_size * (bucket_size - 1) / 2 AS BIGINT)
            AS BIGINT) AS candidate_pairs
FROM buckets GROUP BY bucket_size
"""


# ---------------------------------------------------------------------------
# Weighted systematic sample: prefix sums with no global-order window
# ---------------------------------------------------------------------------

_WSS_PREBINS = 16
_WSS_TARGET = 64  # ~target picks; stride = total_weight div target


def q_weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted systematic sample of documents (weight =
    n_chars): a doc is picked once per stride multiple its cumulative-
    weight interval covers — heavy docs can be picked multiple times,
    expected picks ∝ weight, ZERO transcendental math (the float-free
    twin of exp-key A-ES sampling, so both engines agree bit-for-bit).

    The prefix sum is the scale claim: ``sum() OVER (ORDER BY doc_id)``
    is a SINGLE-TASK global sort, so the cumulative weight is built the
    ``equi_depth_exact_scalable`` way — monotone pre-bin on doc_id,
    per-bin window sum (one hash exchange, parallel across bins),
    plus the exclusive running bin total from a triangular broadcast
    join over the |bins|-row count frame.  The oracle keeps the plain
    global-window form; the hash match proves the decomposition exact.
    Pick count: picks = floor(cum_hi/stride) − floor(cum_lo/stride)
    (stride points at s·k, k ≥ 1) — pure integer arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("w")
    )
    bounds = docs.agg(
        F.min("doc_id").alias("lo_id"),
        F.max("doc_id").alias("hi_id"),
        F.sum("w").alias("total_w"),
    )
    binned = docs.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "w",
        "total_w",
        (
            (F.col("doc_id") - F.col("lo_id"))
            * F.lit(_WSS_PREBINS)
            / (F.col("hi_id") - F.col("lo_id") + F.lit(1))
        )
        .cast("long")
        .alias("bin"),
    )
    win = (
        Window.partitionBy("bin")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = binned.withColumn("cum_in_bin", F.sum("w").over(win))
    cnts = binned.groupBy("bin").agg(F.sum("w").alias("bin_w"))
    lower = cnts.select(F.col("bin").alias("lbin"), F.col("bin_w").alias("lw"))
    offsets = (
        cnts.join(F.broadcast(lower), F.col("lbin") < F.col("bin"), "left")
        .groupBy("bin")
        .agg(F.coalesce(F.sum("lw"), F.lit(0)).alias("offset"))
    )
    stride = F.greatest(
        F.lit(1), F.floor(F.col("total_w") / F.lit(_WSS_TARGET)).cast("long")
    )
    cum_hi = F.col("offset") + F.col("cum_in_bin")
    cum_lo = cum_hi - F.col("w")
    picks = (
        F.floor(cum_hi / stride).cast("long")
        - F.floor(cum_lo / stride).cast("long")
    )
    return (
        within.join(F.broadcast(offsets), "bin")
        .select(
            "doc_id",
            "w",
            cum_hi.alias("cum_w"),
            picks.alias("n_picks"),
        )
        .where(F.col("n_picks") >= 1)
    )


ORACLE_WEIGHTED_SAMPLE = f"""
WITH w AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
), cum AS (
  SELECT doc_id, w,
         CAST(sum(w) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_w
  FROM w
), s AS (
  SELECT greatest(1, CAST(sum(w) AS BIGINT) // {_WSS_TARGET}) AS stride FROM w
)
SELECT doc_id, w, cum_w,
       CAST(cum_w // stride - (cum_w - w) // stride AS BIGINT) AS n_picks
FROM cum, s
WHERE cum_w // stride - (cum_w - w) // stride >= 1
"""


# ---------------------------------------------------------------------------
# Token PMI pairs: bounded within-doc co-occurrence mining
# ---------------------------------------------------------------------------

_PMI_MIN_DF = 20
_PMI_MIN_COOC = 200


def q_token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring in the
    same document — collocation / topic-pair mining over the corpus.

    Fan-out control IS the query at scale: the self-join is keyed on
    doc_id and the per-doc token list is first pruned to tokens above
    a document-frequency floor, so pair blow-up is bounded by (pruned
    tokens per doc)² per doc — never corpus-quadratic (plan-asserted
    keyed).  Document frequencies come from one groupBy over exploded
    DISTINCT per-doc tokens; the corpus doc count enters as a
    broadcast scalar.  PMI = ln(N·c12/(c1·c2)), doubles only in the
    final rounded projection.
    """
    docs = load_table(spark, sf_dir, "documents")
    doc_tok = docs.select(
        "doc_id", F.explode(F.array_distinct(text.tokens("text"))).alias("tok")
    )
    df_counts = doc_tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    kept = doc_tok.join(
        df_counts.where(F.col("df") >= _PMI_MIN_DF), "tok"
    ).select("doc_id", "tok", "df")
    a = kept.select("doc_id", F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    b = kept.select("doc_id", F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
        .where(F.col("n_cooc") >= _PMI_MIN_COOC)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    pmi = F.log(
        F.col("n_docs").cast("double")
        * F.col("n_cooc").cast("double")
        / (F.col("df_a").cast("double") * F.col("df_b").cast("double"))
    )
    return pairs.crossJoin(F.broadcast(n_docs)).select(
        "tok_a", "tok_b", "n_cooc", "df_a", "df_b", F.round(pmi, 6).alias("pmi")
    )


ORACLE_TOKEN_PMI = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest({_SQL_TOKENS.format(col='text')}) AS tok
  FROM documents
), dfc AS (
  SELECT tok, count(*) AS df FROM dt GROUP BY tok
), kept AS (
  SELECT doc_id, dt.tok, df FROM dt JOIN dfc ON dt.tok = dfc.tok
  WHERE df >= {_PMI_MIN_DF}
), pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS df_a, b.df AS df_b,
         count(*) AS n_cooc
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2, 3, 4
  HAVING count(*) >= {_PMI_MIN_COOC}
)
SELECT tok_a, tok_b, n_cooc, df_a, df_b,
       round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
                * CAST(n_cooc AS DOUBLE)
                / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE))), 6) AS pmi
FROM pairs
"""


# ---------------------------------------------------------------------------
# Bigram surprise: the n-gram LM rung above unigram_logprob_score
# ---------------------------------------------------------------------------


def q_bigram_surprise_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram surprise −ln P(w₂|w₁) under the corpus
    bigram LM — scores sequence plausibility where the unigram score
    only sees vocabulary (word salad of common words is fluent to a
    unigram model, surprising to a bigram model).

    Bigrams come from a lead() over the per-doc position window
    (partitioned by doc — parallel across docs, never a global sort).
    Conditional counts attach as WINDOW SUMS over the bigram and
    left-unigram keys — the ``unigram_logprob_score`` no-vocab-join
    discipline: a corpus bigram table doesn't broadcast at 100 TB.
    surprise = ln(c(w₁·)) − ln(c(w₁w₂)); per-doc double sum rounded
    to 6 (order ulps don't survive).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(text.tokens("text")).alias("pos", "w1")
    )
    seq = Window.partitionBy("doc_id").orderBy("pos")
    big = tok.withColumn("w2", F.lead("w1").over(seq)).where(
        F.col("w2").isNotNull()
    )
    pair_counts = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c_doc")
    )
    with_counts = pair_counts.withColumns(
        {
            "c_bigram": F.sum("c_doc").over(Window.partitionBy("w1", "w2")),
            "c_left": F.sum("c_doc").over(Window.partitionBy("w1")),
        }
    )
    surprise = F.log(F.col("c_left").cast("double")) - F.log(
        F.col("c_bigram").cast("double")
    )
    return with_counts.groupBy("doc_id").agg(
        F.sum("c_doc").alias("n_bigrams"),
        F.round(
            F.sum(F.col("c_doc").cast("double") * surprise)
            / F.sum("c_doc").cast("double"),
            6,
        ).alias("mean_surprise_nats"),
    )


def _oracle_bigram_surprise() -> str:
    # bigrams via list positions: w1 = arr[i], w2 = arr[i+1]
    toks = _SQL_TOKENS.format(col="text")
    return f"""
WITH arr AS (
  SELECT doc_id, {toks} AS t FROM documents
), big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM arr, LATERAL unnest(generate_series(1, greatest(len(t) - 1, 0))) u(i)
), pc AS (
  SELECT doc_id, w1, w2, count(*) AS c_doc FROM big GROUP BY 1, 2, 3
), wc AS (
  SELECT doc_id, c_doc,
         CAST(sum(c_doc) OVER (PARTITION BY w1, w2) AS BIGINT) AS c_bigram,
         CAST(sum(c_doc) OVER (PARTITION BY w1) AS BIGINT) AS c_left
  FROM pc
)
SELECT doc_id, CAST(sum(c_doc) AS BIGINT) AS n_bigrams,
       round(sum(CAST(c_doc AS DOUBLE)
                 * (ln(CAST(c_left AS DOUBLE)) - ln(CAST(c_bigram AS DOUBLE))))
             / CAST(sum(c_doc) AS DOUBLE), 6) AS mean_surprise_nats
FROM wc GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Interval-overlap join via day-bucket grid
# ---------------------------------------------------------------------------

_CAMPAIGN_SECONDS = 7 * 24 * 3600


def q_interval_overlap_campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-day activity intervals × 7-day campaign windows, joined on
    OVERLAP — the interval×interval generalization of the engine's
    point-in-band range join.

    Neither side broadcasts at scale (user-days grow with the fact
    table, campaign windows with history), and an inequality-only
    join is a cartesian — so both sides map onto day buckets (an
    activity interval lives inside one day; a campaign explodes to
    the ≤8 days it touches), the join is an EQUI-join on the bucket,
    and the exact overlap predicate + length run on candidates only.
    Campaign windows derive from the global min/max timestamps —
    sequence+explode over a broadcast 1-row bounds frame, not
    driver-side generation.  Overlap seconds use floor-epoch integers
    (both engines floor identically).
    """
    events = load_table(spark, sf_dir, "events")
    spans = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.min("ts").alias("a_lo"), F.max("ts").alias("a_hi"))
    bounds = events.agg(F.min("ts").alias("g_lo"), F.max("ts").alias("g_hi"))
    camp = (
        bounds.select(
            "g_lo",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor(
                        (
                            F.unix_timestamp("g_hi") - F.unix_timestamp("g_lo")
                        )
                        / F.lit(_CAMPAIGN_SECONDS)
                    ).cast("int"),
                )
            ).alias("campaign_k"),
        )
        .select(
            "campaign_k",
            F.timestamp_seconds(
                F.unix_timestamp("g_lo")
                + F.col("campaign_k").cast("long") * F.lit(_CAMPAIGN_SECONDS)
            ).alias("b_lo"),
            F.timestamp_seconds(
                F.unix_timestamp("g_lo")
                + (F.col("campaign_k") + 1).cast("long") * F.lit(_CAMPAIGN_SECONDS)
            ).alias("b_hi"),
        )
    )
    camp_days = camp.select(
        "campaign_k",
        "b_lo",
        "b_hi",
        F.explode(
            F.sequence(F.to_date("b_lo"), F.to_date("b_hi"))
        ).alias("day"),
    )
    ov_s = F.unix_timestamp(F.least("a_hi", "b_hi")) - F.unix_timestamp(
        F.greatest("a_lo", "b_lo")
    )
    return (
        spans.join(camp_days, "day")
        .where((F.col("a_lo") < F.col("b_hi")) & (F.col("b_lo") <= F.col("a_hi")))
        .select(
            "user_id",
            "day",
            "campaign_k",
            ov_s.cast("long").alias("overlap_s"),
        )
    )


ORACLE_INTERVAL_OVERLAP = f"""
WITH spans AS (
  SELECT user_id, CAST(ts AS DATE) AS day, min(ts) AS a_lo, max(ts) AS a_hi
  FROM events GROUP BY 1, 2
), b AS (
  SELECT min(ts) AS g_lo, max(ts) AS g_hi FROM events
), camp AS (
  SELECT CAST(k AS INTEGER) AS campaign_k,
         g_lo + to_seconds(CAST(k * {_CAMPAIGN_SECONDS} AS BIGINT)) AS b_lo,
         g_lo + to_seconds(CAST((k + 1) * {_CAMPAIGN_SECONDS} AS BIGINT)) AS b_hi
  FROM b, LATERAL unnest(generate_series(0,
       CAST(floor((floor(epoch(g_hi)) - floor(epoch(g_lo)))
                  / {_CAMPAIGN_SECONDS}) AS BIGINT))) u(k)
)
SELECT s.user_id, s.day, c.campaign_k,
       CAST(floor(epoch(least(s.a_hi, c.b_hi)))
            - floor(epoch(greatest(s.a_lo, c.b_lo))) AS BIGINT) AS overlap_s
FROM spans s JOIN camp c
  ON s.a_lo < c.b_hi AND c.b_lo <= s.a_hi
"""


#: dict the registry splices in: name -> (query fn, oracle sql or None)
ROUND5C_QUERIES: dict = {
    "benford_digit_audit": (q_benford_digit_audit, ORACLE_BENFORD),
    "lsh_bucket_skew_audit": (q_lsh_bucket_skew_audit, _oracle_bucket_skew()),
    "weighted_systematic_sample": (
        q_weighted_systematic_sample,
        ORACLE_WEIGHTED_SAMPLE,
    ),
    "token_pmi_pairs": (q_token_pmi_pairs, ORACLE_TOKEN_PMI),
    "bigram_surprise_score": (q_bigram_surprise_score, _oracle_bigram_surprise()),
    "interval_overlap_campaigns": (
        q_interval_overlap_campaigns,
        ORACLE_INTERVAL_OVERLAP,
    ),
}


# ---------------------------------------------------------------------------
# Two-phase heavy hitters: Misra-Gries candidates + exact verification
# ---------------------------------------------------------------------------

_MG_DENOM = 8


def q_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys holding > 1/8 of the events table, found the bounded-memory
    way: Misra-Gries candidate generation per partition (O(8) counters,
    no full-domain shuffle — `operators/skew.mg_candidates`), then an
    exact count of candidates only.

    The companion to ``heavy_hitter_keys`` (which exact-counts the
    whole domain): at 100 TB with billions of distinct keys the full
    groupBy's shuffle is the bottleneck, while this plan shuffles only
    ≤ |partitions|·8 candidate keys + their verified counts. The MG
    containment guarantee (no false negatives) makes the result
    IDENTICAL to the brute-force HAVING query — which is exactly what
    the oracle checks.
    """
    from etl_portofolio_spark.operators import skew

    events = load_table(spark, sf_dir, "events")
    return skew.heavy_hitters_exact_via_sketch(events, "event_type", _MG_DENOM)


ORACLE_MG_HEAVY = f"""
SELECT event_type, count(*) AS n_rows
FROM events GROUP BY event_type
HAVING count(*) * {_MG_DENOM} > (SELECT count(*) FROM events)
"""


ROUND5C_QUERIES["heavy_hitters_sketch"] = (q_heavy_hitters_sketch, ORACLE_MG_HEAVY)


# ---------------------------------------------------------------------------
# Flesch-style readability score
# ---------------------------------------------------------------------------


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Flesch reading-ease approximation — the classic
    surface-form readability gate next to the statistical quality
    scores (a doc can pass length/stopword gates and still be
    unreadably dense).

    All three inputs are regexp COUNTS evaluated at scan speed (no
    explode, no token rows): words = whitespace runs + 1, sentences =
    [.!?] runs (floored at 1), syllables ~ vowel groups (the standard
    cheap proxy; both engines count with the same pattern so the
    approximation cancels in the hash check). Map-only, zero-shuffle
    plan; the formula is one rounded double from integer counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.lower(F.trim(F.col("text")))
    words = F.regexp_count(t, F.lit(r"\s+")) + F.lit(1)
    sentences = F.greatest(F.lit(1), F.regexp_count(t, F.lit(r"[.!?]+")))
    syllables = F.greatest(F.lit(1), F.regexp_count(t, F.lit("[aeiouy]+")))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    return docs.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
        syllables.cast("long").alias("n_syllables"),
        F.round(score, 4).alias("flesch_score"),
    )


ORACLE_READABILITY = r"""
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(trim(text)), '\s+')) + 1 AS n_words,
         greatest(1, len(regexp_extract_all(lower(trim(text)), '[.!?]+')))
           AS n_sentences,
         greatest(1, len(regexp_extract_all(lower(trim(text)), '[aeiouy]+')))
           AS n_syllables
  FROM documents
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
             4) AS flesch_score
FROM c
"""


ROUND5C_QUERIES["text_readability"] = (q_text_readability, ORACLE_READABILITY)


# ---------------------------------------------------------------------------
# Spark-4 VARIANT semi-structured path
# ---------------------------------------------------------------------------


def q_variant_props_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via the Spark 4 VARIANT type: one
    ``parse_json`` into a variant column at scan, typed
    ``variant_get`` extraction downstream — the open-schema companion
    to ``json_props_extract``'s declared-schema ``from_json`` (VARIANT
    keeps the full document navigable when the schema is not known
    up front, at a binary-encoded storage cost instead of re-parsing
    text per field access).

    Output: per event_type, decile-bucket histogram of the extracted
    metric — integers only.
    """
    events = load_table(spark, sf_dir, "events")
    v = events.withColumn("props_v", F.parse_json("props"))
    k = F.variant_get(F.col("props_v"), "$.k", "int")
    return (
        v.select("event_type", (F.floor(k / 10)).cast("int").alias("k_decile"))
        .groupBy("event_type", "k_decile")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_VARIANT_DECILES = """
SELECT event_type,
       CAST(floor(CAST(props::JSON->>'k' AS INTEGER) / 10) AS INTEGER)
         AS k_decile,
       count(*) AS n
FROM events
GROUP BY 1, 2
"""


ROUND5C_QUERIES["variant_props_deciles"] = (
    q_variant_props_deciles,
    ORACLE_VARIANT_DECILES,
)


# ---------------------------------------------------------------------------
# k-anonymity report
# ---------------------------------------------------------------------------

_KANON_K = 10


def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (segment x nation):
    every equivalence class with its population and an at-risk flag
    for classes below k — the data-governance gate run before any
    customer-level export, next to ``text_pii_redact``'s content-level
    scrub.

    One combinable groupBy over the quasi-identifier tuple; at 100 TB
    the class count (not the row count) bounds the result, and the
    aggregation is map-side-combinable like any count. Suppression /
    generalization decisions consume this report; the query stays a
    pure audit.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("c_mktsegment", F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("class_size"))
        .select(
            "c_mktsegment",
            "nation",
            "class_size",
            (F.col("class_size") < _KANON_K).alias("at_risk"),
        )
    )


ORACLE_K_ANONYMITY = f"""
SELECT c_mktsegment, n_name AS nation, count(*) AS class_size,
       (count(*) < {_KANON_K}) AS at_risk
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1, 2
"""


ROUND5C_QUERIES["k_anonymity_report"] = (
    q_k_anonymity_report,
    ORACLE_K_ANONYMITY,
)


# ---------------------------------------------------------------------------
# Geo proximity join: grid blocking + haversine residual
# ---------------------------------------------------------------------------

_GEO_RADIUS_KM = 500.0
_GEO_CELL_DEG = 5


def q_geo_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer pairs within 500 km — the geo member of the blocked-
    join family (the reference's processing table carries latitude/
    longitude columns; the fixture has none, so coordinates derive
    deterministically from the same md5 hash both engines share).

    A distance-only join is a cartesian, so points map to a 5° grid
    and each LEFT point explodes to its 3x5 cell neighborhood (±1 lat
    cell covers 500 km everywhere; ±2 lon cells cover it up to the
    |lat| <= 60° domain of the synthetic coordinates, where 5° of
    longitude is >= 278 km) — the join is an EQUI-join on the cell,
    haversine runs on candidates only, id_a < id_b dedups the
    symmetric match. Same shape as the LSH/band/day-bucket blockers:
    grid granularity trades candidate count against fan-out.
    Haversine is an identical expression tree on both engines; the
    ~1-ulp libm differences sit 9 orders of magnitude below the
    rounded output and the 500.0 threshold margin.
    """
    from etl_portofolio_spark.functions.hashing import h32

    customer = load_table(spark, sf_dir, "customer")
    pts = customer.select(
        F.col("c_custkey").alias("id"),
        ((h32("c_name") % 1200).cast("double") / F.lit(10.0) - F.lit(60.0)).alias(
            "lat"
        ),
        (
            (h32(F.concat(F.col("c_name"), F.lit(":lon"))) % 3600).cast("double")
            / F.lit(10.0)
            - F.lit(180.0)
        ).alias("lon"),
    )
    cell_lat = F.floor(F.col("lat") / _GEO_CELL_DEG).cast("int")
    cell_lon = F.floor(F.col("lon") / _GEO_CELL_DEG).cast("int")
    n_lon_cells = 360 // _GEO_CELL_DEG
    a = pts.select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(
            F.array(*[F.lit(d) for d in (-1, 0, 1)])
        ).alias("dlat"),
        cell_lat.alias("cla"),
        cell_lon.alias("clo"),
    ).select(
        "id_a",
        "lat_a",
        "lon_a",
        (F.col("cla") + F.col("dlat")).alias("cell_lat"),
        F.explode(F.array(*[F.lit(d) for d in (-2, -1, 0, 1, 2)])).alias("dlon"),
        "clo",
    ).select(
        "id_a",
        "lat_a",
        "lon_a",
        "cell_lat",
        # longitude cells wrap at the antimeridian: cell -36 and cell
        # +35 are neighbors on the globe — pmod closes the ring
        F.pmod(F.col("clo") + F.col("dlon"), F.lit(n_lon_cells)).alias(
            "cell_lon"
        ),
    )
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        cell_lat.alias("cell_lat"),
        F.pmod(cell_lon, F.lit(n_lon_cells)).alias("cell_lon"),
    )
    dist = F.lit(12742.0) * F.asin(
        F.sqrt(
            F.pow(F.sin(F.radians(F.col("lat_b") - F.col("lat_a")) / 2), 2)
            + F.cos(F.radians("lat_a"))
            * F.cos(F.radians("lat_b"))
            * F.pow(F.sin(F.radians(F.col("lon_b") - F.col("lon_a")) / 2), 2)
        )
    )
    return (
        a.join(b, ["cell_lat", "cell_lon"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("dist_km"))
        .where(F.col("dist_km") <= _GEO_RADIUS_KM)
        .select("id_a", "id_b", F.round("dist_km", 3).alias("dist_km"))
    )


def _oracle_geo_pairs() -> str:
    from etl_portofolio_spark.functions.hashing import h32_sql

    lat = f"CAST({h32_sql('c_name')} % 1200 AS DOUBLE) / 10.0 - 60.0"
    lon = f"CAST({h32_sql(chr(39) + chr(39) + ' || c_name || ' + chr(39) + ':lon' + chr(39))} % 3600 AS DOUBLE) / 10.0 - 180.0"
    return f"""
WITH pts AS (
  SELECT c_custkey AS id, {lat} AS lat, {lon} AS lon FROM customer
)
SELECT a.id AS id_a, b.id AS id_b,
       round(12742.0 * asin(sqrt(
         pow(sin(radians(b.lat - a.lat) / 2), 2)
         + cos(radians(a.lat)) * cos(radians(b.lat))
           * pow(sin(radians(b.lon - a.lon) / 2), 2))), 3) AS dist_km
FROM pts a JOIN pts b ON a.id < b.id
WHERE 12742.0 * asin(sqrt(
        pow(sin(radians(b.lat - a.lat) / 2), 2)
        + cos(radians(a.lat)) * cos(radians(b.lat))
          * pow(sin(radians(b.lon - a.lon) / 2), 2))) <= {_GEO_RADIUS_KM}
"""


ROUND5C_QUERIES["geo_proximity_pairs"] = (
    q_geo_proximity_pairs,
    _oracle_geo_pairs(),
)
