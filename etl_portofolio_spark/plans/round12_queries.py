"""Round-12 query wave — eight additions, exactly at the ≤8 cap, so the
driver's 50-slot rotation clears the r9 backlog first (13 backlog +
these 8 = 21 zero-green heads, 29 recheck slots spare):

- ``winnowing_fingerprints``: MOSS-style winnowing — the LOCAL
  document-fingerprinting algorithm (Schleimer/Wilkerson/Aiken,
  SIGMOD'03) that the whole-doc rolling hash (``text_fingerprint``)
  cannot replace: window-min selection guarantees any shared substring
  of length >= w+k-1 contributes a shared fingerprint, the primitive
  behind partial-overlap / plagiarism / contamination detection.
- ``jensen_shannon_source_drift``: symmetric, bounded divergence of
  each source's unigram distribution from the REST of the corpus — the
  per-source drift panel beside per-doc ``kl_divergence_score`` (KL is
  asymmetric and unbounded; JS is the mixture-distance used for corpus
  mixing decisions).
- ``runs_test_revenue``: Wald-Wolfowitz runs test on the daily-revenue
  sign sequence around the doubled median — randomness-of-sequence
  audit completing the trend family (Mann-Kendall detects monotone
  trend; the runs test detects ANY serial dependence).
- ``ks_wasserstein_quantity``: two-sample Kolmogorov-Smirnov D and 1-D
  Wasserstein (earth-mover) distance between the returned/kept
  quantity distributions, both from one bounded value-domain histogram
  — the distribution-shift metrics beside the binned PSI
  (``histogram_drift_psi``).
- ``theil_index_nations``: Theil T inequality index of customer
  revenue per nation — the decomposable companion to ``revenue_gini``
  (Theil's within-group terms sum to a group-decomposable total; Gini
  does not decompose).
- ``gumbel_block_maxima``: extreme-value (Gumbel) moment fit on
  monthly block maxima of daily revenue — EVT capacity planning.
- ``simpson_diversity_sources``: exact Simpson index of the source mix
  per language — the concentration audit for corpus mixing.
- ``hill_tail_index``: Hill estimator of the revenue distribution's
  power-law tail exponent from the top-k order statistics.

Determinism contract: integer arithmetic on every compared value where
possible (permille-quantized CDFs, integer runs counts, xor digests);
the two transcendental outputs (JS, Theil) follow the round-12-then-
DECIMAL-sum rule — each per-element ``ln`` term is rounded to 12
decimals and summed as DECIMAL(38,12) (order-free, exact), so the only
cross-engine surface is the per-term double, identical expression
trees on both sides, final round to 6.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.functions.hashing import h60_sql
from etl_portofolio_spark.plans.oracle_types import oracle_bigint
from etl_portofolio_spark.plans.round4_queries import _SQL_TOKENS

ROUND12_QUERIES: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {}


# ---------------------------------------------------------------------------
# winnowing_fingerprints — MOSS window-min local fingerprints
# ---------------------------------------------------------------------------

#: token k-gram length and winnowing window (guarantee threshold
#: t = _WINNOW_W + _WINNOW_K - 1 = 6 tokens: any shared run of >= 6
#: tokens shares at least one selected fingerprint)
_WINNOW_K = 3
_WINNOW_W = 4


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) local fingerprints per document: h60 hashes of
    token 3-grams, then for every window of 4 consecutive gram hashes
    select the minimum (rightmost occurrence on ties — the robust-
    winnowing rule), dedupe the (position, hash) selections, and emit
    the selection count plus an order-insensitive xor digest.

    Winnowing's guarantee (the reason it beats "every k-th gram"
    sampling): density is at most 2/(w+1) in expectation yet any two
    documents sharing a token run of length >= w+k-1 = 6 share at
    least one fingerprint — so a downstream bucket-join on the
    fingerprint hash finds all long overlaps without all-pairs work.

    Scale design: MAP-ONLY — tokens, gram hashes, window minima and
    the digest are all array expressions inside one projection chain;
    zero shuffles, zero joins, no UDFs (every step is a codegen-able
    higher-order function; the gram array is materialized as a column
    before any lambda references it, per the round-1 HOF lesson).
    Per-doc cost is O(tokens * w); fingerprints per doc are bounded
    between n/w and n, so output stays linear in corpus size.
    """
    from etl_portofolio_spark.operators import text

    K, W = _WINNOW_K, _WINNOW_W
    from etl_portofolio_spark.operators.util import spread

    # map-only plan, so the one-row-group test scan would otherwise run
    # the whole gram-hash + window-min pipeline on ONE task; round-robin
    # spread keeps it map-only per partition (no-op at production
    # split counts)
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", text.tokens("text").alias("t"))
    gh = toks.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(t) >= {K} THEN "
            f"transform(sequence(1, size(t) - {K - 1}), i -> "
            f"CAST(conv(substring(md5(array_join(slice(t, i, {K}), ' ')),"
            f" 1, 15), 16, 10) AS BIGINT)) "
            f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
        ).alias("gh"),
    )
    # window-min selection: pos = j + W - (rightmost index of the min
    # inside the window, found as the FIRST index in the reversed slice)
    sel = gh.select(
        "doc_id",
        F.size("gh").alias("n_grams"),
        F.expr(
            f"array_distinct(CASE WHEN size(gh) >= {W} THEN "
            f"transform(sequence(1, size(gh) - {W - 1}), j -> "
            f"concat(CAST(j + {W} - array_position(reverse(slice(gh, j, {W})),"
            f" array_min(slice(gh, j, {W}))) AS STRING), ':', "
            f"CAST(array_min(slice(gh, j, {W})) AS STRING))) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END)"
        ).alias("sel"),
    )
    return sel.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.size("sel").cast("long").alias("n_fingerprints"),
        # xor fold: order-insensitive, overflow-free digest of the
        # selected (pos, hash) set — engines may order the distinct
        # list differently, xor doesn't care
        F.expr(
            "aggregate(sel, CAST(0 AS BIGINT), (a, s) -> a ^ "
            "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))"
        ).alias("fp_xor"),
    )


def _winnow_oracle() -> str:
    K, W = _WINNOW_K, _WINNOW_W
    gram = f"array_to_string(list_slice(t, i, i + {K - 1}), ' ')"
    win = f"list_slice(gh, j, j + {W - 1})"
    return f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKENS.format(col='text')} AS t FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {K} THEN
           list_transform(generate_series(1, len(t) - {K - 1}),
                          i -> {h60_sql(gram)})
         ELSE []::BIGINT[] END AS gh
  FROM tok
), sel AS (
  SELECT doc_id, len(gh) AS n_grams,
         list_distinct(CASE WHEN len(gh) >= {W} THEN
           list_transform(generate_series(1, len(gh) - {W - 1}), j ->
             CAST(j + {W} - list_position(list_reverse({win}),
                                          list_min({win})) AS VARCHAR)
             || ':' || CAST(list_min({win}) AS VARCHAR))
         ELSE []::VARCHAR[] END) AS sel
  FROM grams
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(sel) AS BIGINT) AS n_fingerprints,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                                list_transform(sel, s -> {h60_sql('s')})),
                   (a, b) -> xor(a, b)) AS fp_xor
FROM sel
"""


ROUND12_QUERIES["winnowing_fingerprints"] = (
    q_winnowing_fingerprints,
    _winnow_oracle(),
)


# ---------------------------------------------------------------------------
# jensen_shannon_source_drift — per-source JSD vs the rest of the corpus
# ---------------------------------------------------------------------------


def q_jensen_shannon_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    from the REST of the corpus — "which source is off-distribution?"
    for corpus-mixing decisions. Symmetric and bounded by ln 2, unlike
    the per-doc KL score.

    JSD(P,Q) = 1/2 Σ p·ln(2p/(p+q)) + 1/2 Σ q·ln(2q/(p+q)) over the
    union vocabulary; zero-count sides contribute 0 (the p·ln p limit).

    Determinism: each per-token term is a pure function of four exact
    integers (c_s, c_rest, n_s, n_rest) through an identical
    expression tree in both engines, rounded to 12 decimals and summed
    as DECIMAL(38,12) — order-free, so the vocabulary-sized sum cannot
    drift with partitioning; final value rounded to 6.

    Scale design: one fact-scale token census (map-side combinable),
    then everything is vocabulary-sized: the per-(source, token) grid
    comes from the census itself plus a broadcast of the bounded
    source panel — corpus token totals attach by a co-partitioned
    (token) join, never a window over fact rows. No global windows,
    no driver collection.
    """
    from etl_portofolio_spark.operators import text

    # NO spread here, deliberately (r10 A/B): the token census ``st``
    # feeds four plan branches that share its exchange; inserting a
    # repartition ahead of it broke that sharing and DOUBLED the query
    # (0.49 s → 1.12 s isolated) even though tokenization parallelized
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(text.tokens("text")).alias("tok"))
    st = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_s"))
    tot = st.groupBy("tok").agg(F.sum("c_s").cast("long").alias("c_all"))
    sources = st.groupBy("source").agg(F.sum("c_s").cast("long").alias("n_s"))
    n_all = st.agg(F.sum("c_s").cast("long").alias("n_all"))
    grid = (
        tot.crossJoin(F.broadcast(sources))
        .join(st, ["source", "tok"], "left")
        .select(
            "source",
            "n_s",
            "c_all",
            F.coalesce(F.col("c_s"), F.lit(0)).cast("long").alias("c_s"),
        )
        .crossJoin(F.broadcast(n_all))
    )
    term = F.expr(
        "CAST(round(0.5 * ("
        "  CASE WHEN c_s > 0 THEN (CAST(c_s AS DOUBLE) / n_s) *"
        "    ln(2.0 * (CAST(c_s AS DOUBLE) / n_s) /"
        "       ((CAST(c_s AS DOUBLE) / n_s) +"
        "        (CAST(c_all - c_s AS DOUBLE) / (n_all - n_s)))) ELSE 0.0 END"
        "  +"
        "  CASE WHEN c_all - c_s > 0 THEN"
        "    (CAST(c_all - c_s AS DOUBLE) / (n_all - n_s)) *"
        "    ln(2.0 * (CAST(c_all - c_s AS DOUBLE) / (n_all - n_s)) /"
        "       ((CAST(c_s AS DOUBLE) / n_s) +"
        "        (CAST(c_all - c_s AS DOUBLE) / (n_all - n_s)))) ELSE 0.0 END"
        "), 12) AS DECIMAL(38, 12))"
    )
    return (
        grid.groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.sum(F.when(F.col("c_s") > 0, 1).otherwise(0))
            .cast("long")
            .alias("vocab"),
            F.round(F.sum(term).cast("double"), 6).alias("jsd_nats"),
        )
        .select("source", "n_tokens", "vocab", "jsd_nats")
    )


def _jsd_oracle() -> str:
    return f"""
WITH tok AS (
  SELECT source, unnest({_SQL_TOKENS.format(col='text')}) AS tok FROM documents
), st AS (
  SELECT source, tok, count(*) AS c_s FROM tok GROUP BY source, tok
), tot AS (
  SELECT tok, CAST(sum(c_s) AS BIGINT) AS c_all FROM st GROUP BY tok
), sources AS (
  SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s FROM st GROUP BY source
), n_all_t AS (
  SELECT CAST(sum(c_s) AS BIGINT) AS n_all FROM st
), grid AS (
  SELECT s.source, s.n_s, t.c_all,
         CAST(coalesce(st.c_s, 0) AS BIGINT) AS c_s, n_all_t.n_all
  FROM tot t CROSS JOIN sources s
  LEFT JOIN st ON st.source = s.source AND st.tok = t.tok
  CROSS JOIN n_all_t
), terms AS (
  SELECT source, n_s, c_s,
         CAST(round(0.5 * (
           CASE WHEN c_s > 0 THEN (CAST(c_s AS DOUBLE) / n_s) *
             ln(2.0 * (CAST(c_s AS DOUBLE) / n_s) /
                ((CAST(c_s AS DOUBLE) / n_s) +
                 (CAST(c_all - c_s AS DOUBLE) / (n_all - n_s)))) ELSE 0.0 END
           +
           CASE WHEN c_all - c_s > 0 THEN
             (CAST(c_all - c_s AS DOUBLE) / (n_all - n_s)) *
             ln(2.0 * (CAST(c_all - c_s AS DOUBLE) / (n_all - n_s)) /
                ((CAST(c_s AS DOUBLE) / n_s) +
                 (CAST(c_all - c_s AS DOUBLE) / (n_all - n_s)))) ELSE 0.0 END
         ), 12) AS DECIMAL(38, 12)) AS term
  FROM grid
)
SELECT source,
       CAST(max(n_s) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN c_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab,
       round(CAST(sum(term) AS DOUBLE), 6) AS jsd_nats
FROM terms
GROUP BY source
"""


ROUND12_QUERIES["jensen_shannon_source_drift"] = (
    q_jensen_shannon_source_drift,
    _jsd_oracle(),
)


# ---------------------------------------------------------------------------
# runs_test_revenue — Wald-Wolfowitz runs test on the daily sign sequence
# ---------------------------------------------------------------------------


def q_runs_test_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test: is the sequence of daily revenues
    above/below the median serially random? Counts the observed runs
    of consecutive same-sign days and the expected count under
    randomness, E[R] = 1 + 2·n1·n2/n — a small observed/expected ratio
    means streaky (trending/clustered) revenue, completing the trend
    family beside Mann-Kendall.

    All-integer: signs come from the doubled-median trick (2·median of
    an integer column is exact in both engines — round-10 memory);
    median-equal days are dropped per the classic test; expected runs
    ship as exact permille, (1000·n + 2000·n1·n2) div n.

    Scale design: the fact table collapses to a calendar-day panel in
    one combinable aggregation; the sign/lag sequence and the final
    fold run on the bounded panel (~2.4k rows at any corpus size).
    """
    from etl_portofolio_spark.plans.analytics_queries import cents

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy("o_orderdate").agg(
        F.sum(cents("o_totalprice")).cast("long").alias("rev_c")
    )
    med2 = daily.agg(
        (F.median("rev_c") * F.lit(2)).cast("long").alias("med2")
    )
    signs = (
        daily.crossJoin(F.broadcast(med2))
        .where(F.col("rev_c") * 2 != F.col("med2"))
        .select(
            "o_orderdate",
            F.when(F.col("rev_c") * 2 > F.col("med2"), F.lit(1))
            .otherwise(F.lit(-1))
            .alias("sign"),
        )
    )
    # bounded: calendar-day panel (one row per order date, ~2.4k days)
    w = Window.orderBy("o_orderdate")
    flips = signs.select(
        "sign",
        F.when(F.lag("sign").over(w).isNull(), F.lit(0))
        .when(F.lag("sign").over(w) != F.col("sign"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("flip"),
    )
    return flips.agg(
        F.count(F.lit(1)).cast("long").alias("n_days_used"),
        F.sum(F.when(F.col("sign") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_plus"),
        F.sum(F.when(F.col("sign") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_minus"),
        (F.sum("flip") + F.lit(1)).cast("long").alias("n_runs"),
    ).select(
        "n_days_used",
        "n_plus",
        "n_minus",
        "n_runs",
        F.expr(
            "(1000 * n_days_used + 2000 * n_plus * n_minus)"
            " div n_days_used"
        )
        .cast("long")
        .alias("expected_runs_permille"),
    )


_RUNS_SQL = oracle_bigint(
    """
WITH daily AS (
  SELECT o_orderdate,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY o_orderdate
), med AS (
  SELECT CAST(2 * median(rev_c) AS BIGINT) AS med2 FROM daily
), signs AS (
  SELECT o_orderdate,
         CASE WHEN rev_c * 2 > med2 THEN 1 ELSE -1 END AS sign
  FROM daily, med WHERE rev_c * 2 <> med2
), flips AS (
  SELECT sign,
         CASE WHEN lag(sign) OVER (ORDER BY o_orderdate) IS NULL THEN 0
              WHEN lag(sign) OVER (ORDER BY o_orderdate) <> sign THEN 1
              ELSE 0 END AS flip
  FROM signs
), agg AS (
  SELECT count(*) AS n_days_used,
         sum(CASE WHEN sign > 0 THEN 1 ELSE 0 END) AS n_plus,
         sum(CASE WHEN sign < 0 THEN 1 ELSE 0 END) AS n_minus,
         sum(flip) + 1 AS n_runs
  FROM flips
)
SELECT n_days_used, n_plus, n_minus, n_runs,
       (1000 * n_days_used + 2000 * n_plus * n_minus) // n_days_used
         AS expected_runs_permille
FROM agg
""",
    "n_days_used",
    "n_plus",
    "n_minus",
    "n_runs",
    "expected_runs_permille",
)

ROUND12_QUERIES["runs_test_revenue"] = (q_runs_test_revenue, _RUNS_SQL)


# ---------------------------------------------------------------------------
# ks_wasserstein_quantity — two-sample KS D + 1-D Wasserstein, one histogram
# ---------------------------------------------------------------------------


def q_ks_wasserstein_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D and 1-D Wasserstein (earth-mover)
    distance between the quantity distributions of returned ('R') vs
    kept ('N') line items — the shift magnitude (KS: worst-point CDF
    gap) and the shift COST (W1: total CDF area) from one histogram.

    Determinism: CDFs are permille-quantized per group —
    cdf_permille = (1000·cum) div n — so every compared value is an
    exact BIGINT at ANY corpus size (no n_r·n_n cross products to
    overflow); the reported statistics are the permille-quantized
    versions, stated as such. W1 integrates |ΔCDF| against the actual
    gaps between consecutive observed quantity values.

    Scale design: one fact-scale map-side-combinable histogram on the
    bounded quantity domain (~50 distinct values); every window below
    runs on that bounded panel.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("R", "N")
    )
    hist = li.groupBy(F.col("l_quantity").cast("long").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("c_r"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
        .cast("long")
        .alias("c_n"),
    )
    # bounded: quantity value domain (~50 distinct integer values)
    wq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    totals = hist.agg(
        F.sum("c_r").cast("long").alias("n_r"),
        F.sum("c_n").cast("long").alias("n_n"),
    )
    cdf = (
        hist.select(
            "q",
            F.sum("c_r").over(wq).cast("long").alias("cum_r"),
            F.sum("c_n").over(wq).cast("long").alias("cum_n"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "q",
            "n_r",
            "n_n",
            F.abs(
                F.expr("(1000 * cum_r) div n_r")
                - F.expr("(1000 * cum_n) div n_n")
            )
            .cast("long")
            .alias("d"),
        )
    )
    # bounded: quantity value domain (~50 rows) — gap to the next value
    wl = Window.orderBy("q")
    steps = cdf.select(
        "q",
        "n_r",
        "n_n",
        "d",
        (F.coalesce(F.lead("q").over(wl), F.col("q")) - F.col("q")).alias(
            "gap"
        ),
    )
    return _ks_finalize(steps)


def _ks_finalize(steps: DataFrame) -> DataFrame:
    """Final fold: max/argmax/sum over the bounded CDF panel."""
    # bounded: quantity value domain (~50 rows) — global max for argmax
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    flagged = steps.select(
        "n_r",
        "n_n",
        "d",
        "gap",
        "q",
        F.max("d").over(wall).alias("d_max"),
    )
    return flagged.agg(
        F.max("n_r").cast("long").alias("n_r"),
        F.max("n_n").cast("long").alias("n_n"),
        F.max("d").cast("long").alias("ks_permille"),
        F.min(F.when(F.col("d") == F.col("d_max"), F.col("q")))
        .cast("long")
        .alias("ks_at_quantity"),
        F.sum(F.col("d") * F.col("gap")).cast("long").alias("w1_permille"),
    )


_KSW_SQL = oracle_bigint(
    """
WITH hist AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c_r,
         sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS c_n
  FROM lineitem WHERE l_returnflag IN ('R', 'N')
  GROUP BY 1
), totals AS (
  SELECT CAST(sum(c_r) AS BIGINT) AS n_r, CAST(sum(c_n) AS BIGINT) AS n_n
  FROM hist
), cdf AS (
  SELECT q,
         abs((1000 * CAST(sum(c_r) OVER (ORDER BY q) AS BIGINT)) // n_r
             - (1000 * CAST(sum(c_n) OVER (ORDER BY q) AS BIGINT)) // n_n)
           AS d,
         n_r, n_n
  FROM hist, totals
), steps AS (
  SELECT q, n_r, n_n, d,
         coalesce(lead(q) OVER (ORDER BY q), q) - q AS gap,
         max(d) OVER () AS d_max
  FROM cdf
)
SELECT max(n_r) AS n_r, max(n_n) AS n_n,
       max(d) AS ks_permille,
       min(CASE WHEN d = d_max THEN q END) AS ks_at_quantity,
       sum(d * gap) AS w1_permille
FROM steps
""",
    "n_r",
    "n_n",
    "ks_permille",
    "ks_at_quantity",
    "w1_permille",
)

ROUND12_QUERIES["ks_wasserstein_quantity"] = (
    q_ks_wasserstein_quantity,
    _KSW_SQL,
)


# ---------------------------------------------------------------------------
# theil_index_nations — decomposable inequality of customer revenue
# ---------------------------------------------------------------------------


def q_theil_index_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer order revenue, one row per
    nation: T_g = (1/N_g) Σ_i (x_i/μ_g)·ln(x_i/μ_g) over that nation's
    purchasing customers. Unlike Gini (``revenue_gini``), Theil
    decomposes: the national T_g values combine with the between-
    nation term into the corpus total, which is why it's the
    inequality measure used for grouped corpora. Population: customers
    with at least one order (x_i > 0, so every ln is finite).

    Determinism: x_i is exact integer cents; the per-customer ratio
    r = x_i·N_g/S_g is computed as one identical double expression in
    both engines, each term r·ln(r) rounded to 12 and summed as
    DECIMAL(38,12) (order-free); final index rounded to 6.

    Scale design: fact rows collapse to per-customer sums in one
    combinable aggregation; the customer->nation attach is a co-keyed
    equi-join; nation panels (25 rows) fold map-side. No windows, no
    driver collection.
    """
    from etl_portofolio_spark.plans.analytics_queries import cents

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    x = orders.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).cast("long").alias("x_c")
    )
    per_cust = x.join(
        cust, x.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    grp = per_cust.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("x_c").cast("long").alias("rev_cents"),
    )
    terms = (
        per_cust.join(F.broadcast(grp), "n_name")
        .select(
            "n_name",
            "n_cust",
            "rev_cents",
            F.expr(
                "CAST(round("
                "(CAST(x_c AS DOUBLE) * n_cust / rev_cents) *"
                " ln(CAST(x_c AS DOUBLE) * n_cust / rev_cents), 12)"
                " AS DECIMAL(38, 12))"
            ).alias("term"),
        )
    )
    return terms.groupBy("n_name").agg(
        F.max("n_cust").alias("n_cust"),
        F.max("rev_cents").alias("rev_cents"),
        F.round(
            F.sum("term").cast("double") / F.max("n_cust"), 6
        ).alias("theil_nats"),
    )


_THEIL_SQL = oracle_bigint(
    """
WITH x AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS x_c
  FROM orders GROUP BY o_custkey
), per_cust AS (
  SELECT n.n_name, x.x_c
  FROM x JOIN customer c ON x.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
), grp AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(x_c) AS BIGINT) AS rev_cents
  FROM per_cust GROUP BY n_name
), terms AS (
  SELECT p.n_name, g.n_cust, g.rev_cents,
         CAST(round(
           (CAST(p.x_c AS DOUBLE) * g.n_cust / g.rev_cents) *
           ln(CAST(p.x_c AS DOUBLE) * g.n_cust / g.rev_cents), 12)
           AS DECIMAL(38, 12)) AS term
  FROM per_cust p JOIN grp g USING (n_name)
)
SELECT n_name, max(n_cust) AS n_cust, max(rev_cents) AS rev_cents,
       round(CAST(sum(term) AS DOUBLE) / max(n_cust), 6) AS theil_nats
FROM terms
GROUP BY n_name
""",
    "n_cust",
    "rev_cents",
)

ROUND12_QUERIES["theil_index_nations"] = (q_theil_index_nations, _THEIL_SQL)


# ---------------------------------------------------------------------------
# gumbel_block_maxima — extreme-value (EVT) fit on monthly revenue maxima
# ---------------------------------------------------------------------------

#: Euler-Mascheroni and pi/sqrt(6), embedded as the same Python-computed
#: literals in both engines (estimator constants, not correctness inputs)
_EULER_GAMMA = 0.5772156649015329


def q_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel fit by the method of moments on monthly block maxima of
    daily revenue — the extreme-value-theory capacity question ("what
    daily peak should the next month be provisioned for?") beside the
    anomaly family's z-scores: EVT models the MAXIMA distribution
    directly instead of the body.

    Block maxima: max daily revenue (integer cents) per calendar
    month. Moment fit: beta = s·sqrt(6)/pi, mu = m − gamma·beta.
    Determinism: block maxima are exact integers; the variance clears
    fractions in DECIMAL ((n·ss − s²) — the round-10 ANOVA staging, no
    int64 product anywhere); sqrt IS correctly rounded cross-engine
    (repo rule), and gamma / sqrt(6)/pi enter as identical Python
    literals, so mu/beta come from one identical double tree, emitted
    as floor(x + 0.5) integer cents.

    Scale design: one fact-scale combinable day aggregation, then a
    calendar-bounded month panel (~80 rows) folds to a single row —
    nothing after the first shuffle grows with data.
    """
    from etl_portofolio_spark.plans.analytics_queries import cents

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy("o_orderdate").agg(
        F.sum(cents("o_totalprice")).cast("long").alias("rev_c")
    )
    monthly = daily.groupBy(
        F.trunc("o_orderdate", "month").alias("m")
    ).agg(F.max("rev_c").alias("mx"))
    mom = monthly.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.col("mx").cast("decimal(38,0)")).alias("__s"),
        F.sum(
            F.col("mx").cast("decimal(19,0)") * F.col("mx").cast("decimal(19,0)")
        ).alias("__ss"),
    )
    gsq6pi = _EULER_GAMMA, 2.449489742783178 / 3.141592653589793
    return mom.select(
        "n_blocks",
        F.expr("CAST(__s div n_blocks AS BIGINT)").alias("mean_max_c"),
        F.expr(
            "CAST(floor(sqrt(CAST((__ss * n_blocks - __s * __s) AS DOUBLE))"
            " / n_blocks + 0.5) AS BIGINT)"
        ).alias("std_max_c"),
        F.expr(
            f"CAST(floor((sqrt(CAST((__ss * n_blocks - __s * __s) AS DOUBLE))"
            f" / n_blocks) * {gsq6pi[1]!r} + 0.5) AS BIGINT)"
        ).alias("beta_c"),
        F.expr(
            f"CAST(floor(CAST(__s AS DOUBLE) / n_blocks"
            f" - {gsq6pi[0]!r} * ((sqrt(CAST((__ss * n_blocks - __s * __s)"
            f" AS DOUBLE)) / n_blocks) * {gsq6pi[1]!r}) + 0.5) AS BIGINT)"
        ).alias("mu_c"),
    )


def _gumbel_oracle() -> str:
    g = repr(_EULER_GAMMA)
    sq6pi = repr(2.449489742783178 / 3.141592653589793)
    return f"""
WITH daily AS (
  SELECT o_orderdate,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY o_orderdate
), monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m, max(rev_c) AS mx
  FROM daily GROUP BY 1
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
         sum(CAST(mx AS DECIMAL(38,0))) AS s,
         sum(CAST(mx AS DECIMAL(19,0)) * CAST(mx AS DECIMAL(19,0))) AS ss
  FROM monthly
)
SELECT n_blocks,
       CAST(CAST(s AS HUGEINT) // n_blocks AS BIGINT) AS mean_max_c,
       CAST(floor(sqrt(CAST((ss * n_blocks - s * s) AS DOUBLE))
            / n_blocks + 0.5) AS BIGINT) AS std_max_c,
       CAST(floor((sqrt(CAST((ss * n_blocks - s * s) AS DOUBLE))
            / n_blocks) * {sq6pi} + 0.5) AS BIGINT) AS beta_c,
       CAST(floor(CAST(s AS DOUBLE) / n_blocks
            - {g} * ((sqrt(CAST((ss * n_blocks - s * s) AS DOUBLE))
                      / n_blocks) * {sq6pi}) + 0.5) AS BIGINT) AS mu_c
FROM mom
"""


ROUND12_QUERIES["gumbel_block_maxima"] = (
    q_gumbel_block_maxima,
    _gumbel_oracle(),
)


# ---------------------------------------------------------------------------
# simpson_diversity_sources — exact Simpson index of source mix per language
# ---------------------------------------------------------------------------


def q_simpson_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's diversity index of the SOURCE composition within each
    language slice of the corpus — "is this language dominated by one
    source?", the concentration audit a corpus-mixing pipeline runs
    before trusting per-language statistics (the HHI's unbiased
    sampling-without-replacement sibling: D = Σ n_i(n_i−1) / (N(N−1)),
    the probability two random docs share a source).

    All-integer: counts are exact; products stage through DECIMAL(19,0)
    → DECIMAL(38,0) (no int64 overflow at any corpus size — the
    round-10 overflow lesson applied at design time), and the index
    ships as exact permicro via truncating division.

    Scale design: one fact-scale combinable (lang, source) census; the
    panel after it is bounded by |langs|·|sources|. No windows.
    """
    docs = load_table(spark, sf_dir, "documents")
    ls = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    per_lang = ls.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum(d19("c") * (d19("c") - F.lit(1))).alias("__pairs"),
    )
    return per_lang.select(
        "lang",
        "n_docs",
        "n_sources",
        F.expr(
            "CAST((__pairs * 1000000) div (CAST(n_docs AS DECIMAL(19,0))"
            " * (CAST(n_docs AS DECIMAL(19,0)) - 1)) AS BIGINT)"
        ).alias("simpson_permicro"),
    )


_SIMPSON_SQL = oracle_bigint(
    """
WITH ls AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY lang, source
), per_lang AS (
  SELECT lang,
         CAST(sum(c) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_sources,
         sum(CAST(c AS DECIMAL(19,0)) * (CAST(c AS DECIMAL(19,0)) - 1))
           AS pairs
  FROM ls GROUP BY lang
)
SELECT lang, n_docs, n_sources,
       CAST(CAST(pairs * 1000000 AS HUGEINT) // (CAST(n_docs AS HUGEINT)
            * (CAST(n_docs AS HUGEINT) - 1)) AS BIGINT)
         AS simpson_permicro
FROM per_lang
""",
    "n_docs",
    "n_sources",
    "simpson_permicro",
)

ROUND12_QUERIES["simpson_diversity_sources"] = (
    q_simpson_diversity_sources,
    _SIMPSON_SQL,
)


# ---------------------------------------------------------------------------
# hill_tail_index — heavy-tail exponent of the customer-revenue distribution
# ---------------------------------------------------------------------------

#: order statistics used by the Hill estimator (top-k tail)
_HILL_K = 100


def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index of customer revenue:
    1/alpha = (1/k) Σ_{i=1..k} ln(x_(i) / x_(k+1)) over the k largest
    customer totals — the heavy-tail diagnostic beside the Zipf rank
    fit (word frequencies) and Gini/Theil (inequality): alpha ≈ 1-2
    means whale customers dominate any sampled aggregate and sketches
    need tail-aware sizing.

    Determinism: order statistics are exact integers selected by a
    deterministic (revenue DESC, custkey ASC) top-(k+1); each ln ratio
    is one identical double tree rounded to 12 and summed as
    DECIMAL(38,12) (order-free), final values rounded to 6.

    Scale design: per-customer totals are one fact-scale combinable
    aggregation; the top-(k+1) panel is a TakeOrdered-style bounded
    head (k = 100 at any corpus size), and everything after runs on
    that panel. No fact-scale windows or joins.
    """
    from etl_portofolio_spark.plans.analytics_queries import cents

    orders = load_table(spark, sf_dir, "orders")
    x = orders.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).cast("long").alias("x_c")
    )
    top = x.orderBy(F.desc("x_c"), F.asc("o_custkey")).limit(_HILL_K + 1)
    thresh = top.agg(F.min("x_c").alias("x_k1"))
    terms = (
        top.crossJoin(F.broadcast(thresh))
        .where(F.col("x_c") > F.col("x_k1"))
        .select(
            "x_k1",
            F.expr(
                "CAST(round(ln(CAST(x_c AS DOUBLE) / CAST(x_k1 AS DOUBLE)),"
                " 12) AS DECIMAL(38, 12))"
            ).alias("term"),
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.max("x_k1").alias("x_k1_c"),
        F.round(
            F.sum("term").cast("double") / F.count(F.lit(1)), 6
        ).alias("inv_alpha"),
        F.round(
            F.count(F.lit(1)) / F.sum("term").cast("double"), 6
        ).alias("alpha"),
    )


_HILL_SQL = oracle_bigint(
    f"""
WITH x AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS x_c
  FROM orders GROUP BY o_custkey
), top AS (
  SELECT x_c FROM x ORDER BY x_c DESC, o_custkey ASC LIMIT {_HILL_K + 1}
), thresh AS (
  SELECT min(x_c) AS x_k1 FROM top
), terms AS (
  SELECT x_k1,
         CAST(round(ln(CAST(x_c AS DOUBLE) / CAST(x_k1 AS DOUBLE)), 12)
              AS DECIMAL(38, 12)) AS term
  FROM top, thresh WHERE x_c > x_k1
)
SELECT CAST(count(*) AS BIGINT) AS k_used,
       max(x_k1) AS x_k1_c,
       round(CAST(sum(term) AS DOUBLE) / count(*), 6) AS inv_alpha,
       round(count(*) / CAST(sum(term) AS DOUBLE), 6) AS alpha
FROM terms
""",
    "k_used",
    "x_k1_c",
)

ROUND12_QUERIES["hill_tail_index"] = (q_hill_tail_index, _HILL_SQL)
