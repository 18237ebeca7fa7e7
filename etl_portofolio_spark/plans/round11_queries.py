"""Round-11 query wave — five additions, deliberately small so the
driver's 50-slot correctness rotation clears the round-8 backlog (the
r8 verdict's ≤8 cap):

- ``jpeg_pixel_stats`` puts the pure-Python baseline-JPEG codec
  (operators/jpeg_baseline.py) under the driver's oracle hash: Spark
  DECODES real JPEG bitstreams (Huffman entropy decode, dequantize,
  IDCT, YCbCr->RGB) while the DuckDB oracle recomputes the expected
  pixel statistics arithmetically from md5(text) and a committed
  256-entry decoded-RGB lookup (pytest regenerates the table from the
  codec and asserts equality, so the literal can never drift).
- ``mcnemar_paired_flags`` / ``cochran_q_heuristics`` complete the
  paired-binary branch of the statistics ladder (beside Cohen's kappa):
  the discordant-pair test for two quality heuristics and its k-rater
  generalization.
- ``rouge_ngram_overlap`` / ``bleu_ngram_precision`` add the two
  canonical generation-eval metrics (clipped n-gram recall/precision)
  absent from the retrieval-eval family (MRR/nDCG/MMR/RRF) — the
  reference-vs-hypothesis machinery an LLM eval pipeline runs at
  corpus scale.

Determinism contract as the other waves: INTEGER arithmetic on every
compared value (staged truncating divisions, Spark ``div`` == DuckDB
``//``), with two documented exceptions routed through the repo's
fixed rules: BLEU's geometric mean uses IEEE-correctly-rounded sqrt on
an exact integer product (deterministic both engines, unlike ln/exp),
and BLEU's brevity penalty is the wave's single transcendental,
quantized floor(exp(..)*1e6 + 0.5) per the round-10 rule.

Scale theme: map-only media decode (zero shuffle) and pair-keyed
n-gram joins — every join in this wave carries (pair_id, gram) keys,
so matching is co-partitioned with no cross-document fan-out.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.plans.oracle_types import oracle_bigint

ROUND11_QUERIES: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {}


# ---------------------------------------------------------------------------
# jpeg_pixel_stats — real baseline-JPEG decode under the oracle hash
# ---------------------------------------------------------------------------

#: Decoded constant-color values of the pure-Python baseline JPEG codec:
#: ``_JPEG_DECODED_RGB[pal * 4 + qi]`` packs the (r, g, b) an 8x8 tile of
#: ``jpeg_palette(pal)`` encoded at ``JPEG_QUALITIES[qi]`` decodes back to,
#: as r<<16 | g<<8 | b. Generated from the codec itself; regenerated and
#: asserted equal by tests/test_round11_queries.py, so a codec change that
#: shifts any decoded value fails the suite before it can fail the gate.
#: Constancy across the whole tile (all DCT blocks identical, AC quantized
#: to zero) is asserted by the same test, which is what lets the oracle
#: verify sum_level = (r+g+b)·w·h without replaying the IDCT in SQL.
_JPEG_DECODED_RGB = (
    936598, 674455, 739479, 739735, 3190875, 3059292, 3190363, 3190364,
    5772068, 5575456, 5509920, 5575457, 7961317, 8026600, 8026343, 8026342,
    10476970, 10345898, 10476971, 10476971, 12797039, 12861810, 12796528, 12862064,
    15312948, 15378230, 15378228, 15312693, 920316, 855547, 986361, 920826,
    3436475, 3306175, 3371199, 3371455, 5822595, 5691012, 5822083, 5822084,
    8206666, 8207176, 8141640, 8207177, 10658066, 10657804, 10592270, 10657806,
    13174482, 13042898, 12977618, 13043155, 15428759, 15493530, 15428248, 15493784,
    1036126, 1298269, 1167197, 1167197, 3617570, 3486499, 3552291, 3552290,
    6068451, 5937895, 6002919, 6003175, 8322728, 8322732, 8453803, 8453804,
    10903922, 10838896, 10773360, 10838897, 13092663, 13289524, 13223990, 13289526,
    15674615, 15674618, 15609338, 15674875, 1413569, 1479361, 1413824, 1348288,
    3667846, 3929989, 3798917, 3798917, 6249547, 6118219, 6184011, 6184010,
    8503824, 8569103, 8569102, 8634639, 11019733, 11019733, 11019989, 11019988,
    13535642, 13470616, 13405080, 13470617, 15789919, 15921244, 15855710, 15921246,
    1594915, 1398050, 1529123, 1529123, 4045546, 4111081, 4045544, 3980008,
    6365358, 6299307, 6365101, 6365101, 8881267, 8749939, 8815731, 8815730,
    11135544, 11200823, 11200822, 11266359, 13651454, 13651453, 13651709, 13651708,
    16167363, 16102336, 16036800, 16102337, 1513604, 1710472, 1710215, 1710214,
    4226892, 4029770, 4160843, 4160843, 6742545, 6480401, 6545936, 6611472,
    8997078, 8931027, 8996821, 8996821, 11512987, 11381659, 11447451, 11447450,
    13833056, 13898079, 13898080, 13832543, 16348708, 16348707, 16348708, 16283172,
    1891048, 2022376, 2022378, 1956841, 4210860, 4342192, 4341935, 4341934,
    6726769, 6661490, 6792563, 6792563, 8981045, 9177402, 9112120, 9177656,
    11694334, 11562747, 11628541, 11628541, 14210243, 14013379, 14079171, 14079170,
    16464776, 16529799, 16529800, 16464263, 2072394, 2006604, 2137675, 2137676,
    4653587, 4522768, 4457232, 4522769, 6842580, 6973912, 6973655, 6973654,
    9358489, 9293210, 9424283, 9424283, 11678558, 11809122, 11743840, 11809376,
    14194466, 14325542, 14325540, 14260005, 16776684, 16645099, 16710891, 16710890,
    2449837, 2253487, 2318511, 2318767, 4704114, 4638324, 4769395, 4769396,
    7285307, 7154488, 7088952, 7154489, 9474556, 9605631, 9605375, 9605374,
    11990209, 11924930, 12056003, 12056003, 14310278, 14440842, 14375560, 14441096,
    49488, 245581, 114509, 114509, 2433553, 2433811, 2499603, 2499602,
)


def _jpeg_lut_values() -> str:
    """VALUES list (pal, qi, sum_rgb) for the DuckDB oracle."""
    rows = []
    for pal in range(64):
        for qi in range(4):
            packed = _JPEG_DECODED_RGB[pal * 4 + qi]
            s = (packed >> 16) + ((packed >> 8) & 0xFF) + (packed & 0xFF)
            rows.append(f"({pal},{qi},{s})")
    return ", ".join(rows)


def q_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-codec decode under the driver hash: constant-
    color baseline JPEGs (palette/quality/dimensions all md5-derived,
    encoded by operators/jpeg_baseline.encode_jpeg) are DECODED for
    real — segment parse, Huffman entropy decode, dequantize, IDCT,
    chroma handling, YCbCr->RGB — and reduced to exact integer pixel
    statistics. The oracle recomputes every value arithmetically from
    md5(text) plus the committed decoded-RGB lookup: a bitstream-,
    padding-, crop-, or color-convert bug shifts sum_level (or the
    SOF dimensions) and fails the hash. Dimensions are non-multiples
    of 8, so MCU edge padding + crop is on the verified path.

    Scale design: ONE Arrow-batched mapInPandas crossing (fused
    synthesize+decode: the chained two-operator form ships every JPEG
    payload across the JVM<->Python boundary twice; the fused operator
    is built from the same two per-doc helpers, so the bytes decoded
    are identical), map-only — a 100 TB media scan stays shuffle-free;
    `spread` only widens the tiny fixture scan to all cores."""
    from etl_portofolio_spark.operators.multimodal import synthesize_jpeg_pixel_stats
    from etl_portofolio_spark.operators.util import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    return synthesize_jpeg_pixel_stats(docs, id_col="doc_id", text_col="text")


_MD5N = "CAST('0x' || substr(md5(text), {a}, 2) AS BIGINT)"
_JPEG_SQL = oracle_bigint(
    f"""
WITH params AS (
  SELECT doc_id,
         {_MD5N.format(a=1)} % 64 AS pal,
         {_MD5N.format(a=3)} % 4 AS qi,
         5 + {_MD5N.format(a=5)} % 44 AS w,
         5 + {_MD5N.format(a=7)} % 28 AS ht
  FROM documents
), lut(pal, qi, sum_rgb) AS (
  VALUES {_jpeg_lut_values()}
)
SELECT p.doc_id,
       CAST(p.w AS BIGINT) AS width,
       CAST(p.ht AS BIGINT) AS height,
       CAST(3 * p.w * p.ht AS BIGINT) AS n_pixels,
       CAST(l.sum_rgb * p.w * p.ht AS BIGINT) AS sum_level
FROM params p JOIN lut l ON l.pal = p.pal AND l.qi = p.qi
""",
    "doc_id",
    "width",
    "height",
    "n_pixels",
    "sum_level",
)

ROUND11_QUERIES["jpeg_pixel_stats"] = (q_jpeg_pixel_stats, _JPEG_SQL)


# ---------------------------------------------------------------------------
# mcnemar_paired_flags — discordant-pair test between two quality gates
# ---------------------------------------------------------------------------

# Fixed quality-gate thresholds (plausible curation gates, both ~30-40%
# positive on this corpus, so every 2x2 cell is populated at both sf).
_MCN_WC_MIN = 64
_MCN_NC_MIN = 384


def _flag_cols() -> tuple[F.Column, F.Column]:
    """The two paired binary raters shared by McNemar and Cochran's Q:
    a = whitespace-token count >= 64, b = character count >= 384."""
    from etl_portofolio_spark.operators import text

    a = (text.token_count_ws("text").cast("long") >= _MCN_WC_MIN).cast("long")
    b = (F.col("n_chars").cast("long") >= _MCN_NC_MIN).cast("long")
    return a.alias("a"), b.alias("b")


def q_mcnemar_paired_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired binary quality flags — "does gate B
    systematically pass more documents than gate A?" — the discordant-
    pair companion to Cohen's kappa (same 2x2 machinery, different
    question: marginal homogeneity instead of agreement). Raters: token
    count >= 64 vs character count >= 384. Emits both the classic
    statistic (n10-n01)²/(n10+n01) and the continuity-corrected form,
    as exact permille integers.

    All-integer: flags and cell counts are exact; chi2·1000 =
    (n10-n01)²·1000 div (n10+n01), nullif-guarded against the
    no-discordant-pairs degenerate (both engines emit NULL).

    Scale design: ONE combinable aggregation over map-side flags — the
    shuffle carries four cell counts at any corpus size."""
    a, b = _flag_cols()
    docs = load_table(spark, sf_dir, "documents").select(a, b)
    tab = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr("a * (1 - b)")).cast("long").alias("n10"),
        F.sum(F.expr("(1 - a) * b")).cast("long").alias("n01"),
    )
    return tab.select(
        "n_docs",
        "n10",
        "n01",
        F.expr(
            "(n10 - n01) * (n10 - n01) * 1000 div nullif(n10 + n01, 0)"
        )
        .cast("long")
        .alias("chi2_permille"),
        # greatest(..., 0): the continuity correction is clamped at
        # zero in the n10 == n01 degenerate (conventional definition;
        # unclamped, |n10-n01|-1 = -1 squares to a spurious 1)
        F.expr(
            "greatest(abs(n10 - n01) - 1, 0)"
            " * greatest(abs(n10 - n01) - 1, 0) * 1000"
            " div nullif(n10 + n01, 0)"
        )
        .cast("long")
        .alias("chi2_cc_permille"),
    )


_MCNEMAR_SQL = oracle_bigint(
    f"""
WITH flags AS (
  SELECT CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\\s+'))
              >= {_MCN_WC_MIN} THEN 1 ELSE 0 END AS a,
         CASE WHEN n_chars >= {_MCN_NC_MIN} THEN 1 ELSE 0 END AS b
  FROM documents
), tab AS (
  SELECT COUNT(*) AS n_docs,
         SUM(a * (1 - b)) AS n10,
         SUM((1 - a) * b) AS n01
  FROM flags
)
SELECT n_docs, n10, n01,
       (n10 - n01) * (n10 - n01) * 1000 // nullif(n10 + n01, 0)
         AS chi2_permille,
       greatest(abs(n10 - n01) - 1, 0) * greatest(abs(n10 - n01) - 1, 0)
         * 1000 // nullif(n10 + n01, 0) AS chi2_cc_permille
FROM tab
""",
    "n_docs",
    "n10",
    "n01",
    "chi2_permille",
    "chi2_cc_permille",
)

ROUND11_QUERIES["mcnemar_paired_flags"] = (q_mcnemar_paired_flags, _MCNEMAR_SQL)


# ---------------------------------------------------------------------------
# cochran_q_heuristics — k-rater generalization of McNemar
# ---------------------------------------------------------------------------


def q_cochran_q_heuristics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across k=3 binary quality gates — "do the k gates
    pass the same fraction of documents?" — the k-sample extension of
    McNemar, completing the paired-binary ladder (kappa: agreement of
    2; McNemar: marginal shift of 2; Q: marginal homogeneity of k).
    Gates: token count >= 64, char count >= 384, mean token length >= 6
    (n_chars >= 6·wc, the long-token/URL-ish-content gate).

    All-integer: Q = (k-1)·(k·ΣG_j² - T²) / (k·T - ΣL_i²) over column
    totals G_j, row sums L_i ∈ {{0..3}}, grand total T — every moment an
    exact int64 (L_i² ≤ 9), emitted as Q·1000 via one staged truncating
    division, nullif-guarded against the all-equal degenerate.

    Scale design: map-side flags, ONE combinable aggregation carrying
    six integer moments — O(1) shuffle at any corpus size."""
    from etl_portofolio_spark.operators import text

    a, b = _flag_cols()
    c = (
        (F.col("n_chars").cast("long")
         >= 6 * text.token_count_ws("text").cast("long"))
        .cast("long")
        .alias("c")
    )
    docs = load_table(spark, sf_dir, "documents").select(a, b, c)
    mom = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("a").cast("long").alias("g_a"),
        F.sum("b").cast("long").alias("g_b"),
        F.sum("c").cast("long").alias("g_c"),
        F.sum(F.expr("(a + b + c) * (a + b + c)")).cast("long").alias("sum_l2"),
    )
    return mom.select(
        "n_docs",
        "g_a",
        "g_b",
        "g_c",
        "sum_l2",
        F.expr(
            "2 * (3 * (g_a * g_a + g_b * g_b + g_c * g_c)"
            " - (g_a + g_b + g_c) * (g_a + g_b + g_c)) * 1000"
            " div nullif(3 * (g_a + g_b + g_c) - sum_l2, 0)"
        )
        .cast("long")
        .alias("q_permille"),
    )


_COCHRAN_SQL = oracle_bigint(
    f"""
WITH flags AS (
  SELECT CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\\s+'))
              >= {_MCN_WC_MIN} THEN 1 ELSE 0 END AS a,
         CASE WHEN n_chars >= {_MCN_NC_MIN} THEN 1 ELSE 0 END AS b,
         CASE WHEN n_chars >= 6 * len(regexp_split_to_array(
              lower(trim(text)), '\\s+')) THEN 1 ELSE 0 END AS c
  FROM documents
), mom AS (
  SELECT COUNT(*) AS n_docs,
         SUM(a) AS g_a, SUM(b) AS g_b, SUM(c) AS g_c,
         SUM((a + b + c) * (a + b + c)) AS sum_l2
  FROM flags
)
SELECT n_docs, g_a, g_b, g_c, sum_l2,
       2 * (3 * (g_a * g_a + g_b * g_b + g_c * g_c)
            - (g_a + g_b + g_c) * (g_a + g_b + g_c)) * 1000
         // nullif(3 * (g_a + g_b + g_c) - sum_l2, 0) AS q_permille
FROM mom
""",
    "n_docs",
    "g_a",
    "g_b",
    "g_c",
    "sum_l2",
    "q_permille",
)

ROUND11_QUERIES["cochran_q_heuristics"] = (q_cochran_q_heuristics, _COCHRAN_SQL)


# ---------------------------------------------------------------------------
# shared clipped n-gram machinery for ROUGE / BLEU
# ---------------------------------------------------------------------------
#
# Pairing convention: each adjacent doc_id pair (d, d+1) plays
# (reference, hypothesis) — a deterministic stand-in for the
# (gold, generated) pairs an eval pipeline joins from two tables. The
# pair key is the REFERENCE doc_id. Clipped-match counting is the
# standard multiset intersection: sum over grams of
# min(count_hyp, count_ref).


def _tagged_gram_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n, g, c): exact n-gram counts per document for BOTH
    n=1 and n=2 in ONE pass — the grams are built as side-tagged
    structs (n, g) in a single map-side array concat and exploded once,
    so the document scan, tokenize, explode and census aggregation all
    run once instead of once per n (r10 verdict item #5). Bigram
    extraction stays the repo's map-side indexed-transform idiom
    (materialized token array, O(1) per-element lookup — r1 HOF rule),
    never an explode-then-self-join. The n tag keeps unigrams and
    bigrams from ever colliding in the census key."""
    tagged = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat("
                " transform(toks, t -> struct(1 AS n, t AS g)),"
                # greatest(.., 0): slice raises on a negative length,
                # which an empty token array would otherwise produce
                " transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                "  (t, i) -> struct(2 AS n, concat(t, ' ', toks[i + 1]) AS g)))"
            )
        ).alias("x"),
    )
    return tagged.select(
        "doc_id", F.col("x.n").alias("n"), F.col("x.g").alias("g")
    ).groupBy("doc_id", "n", "g").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def _pair_gram_stats_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair clipped-match statistics for unigrams AND bigrams in one
    plan: (pair_id, n_ref_uni, n_hyp_uni, ov_uni, n_ref_bi, n_hyp_bi,
    ov_bi), zero-filled over the pairs frame.

    Plan shape (r10 verdict item #5 — one census by construction, not
    by cache luck): ONE tagged census over both gram sizes
    (:func:`_tagged_gram_counts`), whose exchange is read by both the
    ref and hyp relabels via ReuseExchange; the two relabeled count
    streams are merged by ONE full-outer join on (pair_id, n, g); then
    ONE groupBy(pair_id) computes all six statistics with conditional
    sums. vs the old shape (each of ROUGE/BLEU built the n=1 and n=2
    pipelines independently): tokenize/explode/census once instead of
    twice, one merge join instead of two, one pair-level aggregation
    instead of two plus a final uni-bi join. A UNION + re-aggregation
    merge was A/B'd and LOST (stage profile: the per-branch partial
    aggregations fused differently on the two union branches, so their
    census exchange subtrees were no longer identical and ReuseExchange
    stopped firing — the census ran twice, 3.9 s vs 3.0 s executor
    time); the join formulation keeps both branches' exchange subtrees
    byte-identical, which is what ReuseExchange keys on.

    # NO spread here, deliberately (r10 A/B, both variants lost): the
    # census exchange below the ref/hyp fork is REUSED across branches,
    # so the single-task census runs once — a doc_id-KEYED spread made
    # the census partition-local (exchange gone → census ran twice) and
    # a round-robin spread quadrupled census CPU across the four
    # branches that read the spread exchange. The serialized census is
    # a one-row-group test-scan artifact only; production scans split.
    """
    from etl_portofolio_spark.operators import text

    # Still NO spread (re-A/B'd against the fused shape this round,
    # alternating variants in one session to control host drift: spread
    # min 1.809 vs no-spread 1.782 — the exchange buys nothing at wall
    # even though the census is a single task on the one-row-group test
    # scan, because the merge join stage dominates; and a doc_id-KEYED
    # spread would satisfy the census ClusteredDistribution, delete its
    # exchange, and re-run the census once per branch — the r10
    # failure).
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", text.tokens("text").alias("toks")
    )
    counts = _tagged_gram_counts(docs)
    ref = counts.select(
        F.col("doc_id").alias("pair_id"), "n", "g", F.col("c").alias("c_ref")
    )
    hyp = counts.select(
        (F.col("doc_id") - 1).alias("pair_id"),
        "n",
        "g",
        F.col("c").alias("c_hyp"),
    )
    # Full-outer on the (pair, n, gram) key: unmatched grams contribute
    # 0 to the clipped overlap and their side's count to the totals.
    # Default sort-merge, deliberately: a shuffle_hash hint was A/B'd
    # (alternating in one session) and lost — min 1.789 vs merge 1.685;
    # the full-outer SHJ builds a whole-partition map of string-keyed
    # gram rows, which costs more than merge's sorts here.
    merged = ref.join(hyp, ["pair_id", "n", "g"], "full_outer")

    def _n_sum(n: int, col: F.Column, alias: str) -> F.Column:
        return (
            F.sum(F.when(F.col("n") == n, col).otherwise(F.lit(0)))
            .cast("long")
            .alias(alias)
        )

    c_ref = F.coalesce("c_ref", F.lit(0))
    c_hyp = F.coalesce("c_hyp", F.lit(0))
    clip = F.least(c_ref, c_hyp)
    stats = merged.groupBy("pair_id").agg(
        _n_sum(1, c_ref, "n_ref_uni"),
        _n_sum(1, c_hyp, "n_hyp_uni"),
        _n_sum(1, clip, "ov_uni"),
        _n_sum(2, c_ref, "n_ref_bi"),
        _n_sum(2, c_hyp, "n_hyp_bi"),
        _n_sum(2, clip, "ov_bi"),
    )
    ids = docs.select("doc_id")
    pairs = ids.alias("l").join(
        ids.alias("r"), F.expr("r.doc_id = l.doc_id + 1"), "inner"
    ).select(F.col("l.doc_id").alias("pair_id"))
    # LEFT join + zero-fill: a pair whose docs have NO grams at all
    # (both texts shorter than n tokens) must still emit a row with
    # zero totals — the oracle mirrors this with LEFT JOINs from the
    # pairs frame, so both engines agree on degenerate corpora (a
    # review-confirmed latent divergence: inner joins dropped
    # one-sided-empty pairs on the SQL side only)
    zf = [
        F.coalesce(c, F.lit(0)).cast("long").alias(c)
        for c in (
            "n_ref_uni", "n_hyp_uni", "ov_uni",
            "n_ref_bi", "n_hyp_bi", "ov_bi",
        )
    ]
    return pairs.join(stats, "pair_id", "left").select("pair_id", *zf)


def _pair_gram_sql(n: int) -> str:
    """DuckDB twin of :func:`_pair_gram_stats` as a WITH body whose
    final CTE ``pg{n}`` exposes (pair_id, n_ref, n_hyp, overlap)."""
    if n == 1:
        grams = "SELECT doc_id, u.g AS g FROM tarr, LATERAL unnest(toks) u(g)"
    else:
        grams = (
            "SELECT doc_id, toks[u.i] || ' ' || toks[u.i + 1] AS g "
            "FROM tarr, LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)"
        )
    return f"""
cnt{n} AS (
  SELECT doc_id, g, COUNT(*) AS c FROM ({grams}) GROUP BY 1, 2
), ov{n} AS (
  SELECT r.doc_id AS pair_id, SUM(LEAST(r.c, h.c)) AS overlap
  FROM cnt{n} r JOIN cnt{n} h ON h.doc_id = r.doc_id + 1 AND h.g = r.g
  GROUP BY 1
), tot{n} AS (
  SELECT doc_id, SUM(c) AS n FROM cnt{n} GROUP BY 1
), pg{n} AS (
  SELECT p.pair_id, COALESCE(tr.n, 0) AS n_ref, COALESCE(th.n, 0) AS n_hyp,
         COALESCE(o.overlap, 0) AS overlap
  FROM pairs p
  LEFT JOIN tot{n} tr ON tr.doc_id = p.pair_id
  LEFT JOIN tot{n} th ON th.doc_id = p.pair_id + 1
  LEFT JOIN ov{n} o ON o.pair_id = p.pair_id
)"""


_PAIR_PREFIX = """
WITH tarr AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
), pairs AS (
  SELECT l.doc_id AS pair_id FROM tarr l JOIN tarr r ON r.doc_id = l.doc_id + 1
)"""


# ---------------------------------------------------------------------------
# rouge_ngram_overlap — per-pair ROUGE-1/ROUGE-2 recall
# ---------------------------------------------------------------------------


def q_rouge_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 / ROUGE-2 recall per (reference, hypothesis) document
    pair — clipped n-gram overlap over reference totals, the summary-
    eval metric every generation pipeline reports (here adjacent-id
    pairs playing gold/generated). Recall·1e6 emitted as exact permicro
    integers: rougeN = Σ min(c_hyp, c_ref) ·1e6 div Σ c_ref,
    nullif-guarded for pairs whose reference has no bigrams.

    Scale design: n-gram counting is map-side (indexed transform, no
    self-join); the ref-vs-hyp match is a (pair_id, n, gram)-keyed
    aggregation — fully co-partitioned, fan-out bounded by per-document
    vocabulary; the recall reduction is a per-pair combinable
    aggregation. At 100 TB the shuffle carries (pair, n, gram) count
    rows only. Both gram sizes share one census + one merge
    (:func:`_pair_gram_stats_both`)."""
    return (
        _pair_gram_stats_both(spark, sf_dir)
        .select(
            "pair_id",
            "n_ref_uni",
            "ov_uni",
            F.expr("ov_uni * 1000000 div nullif(n_ref_uni, 0)")
            .cast("long")
            .alias("rouge1_permicro"),
            "n_ref_bi",
            "ov_bi",
            F.expr("ov_bi * 1000000 div nullif(n_ref_bi, 0)")
            .cast("long")
            .alias("rouge2_permicro"),
        )
        .orderBy("pair_id")
    )


_ROUGE_SQL = oracle_bigint(
    f"""
{_PAIR_PREFIX}, {_pair_gram_sql(1).lstrip()}, {_pair_gram_sql(2).lstrip()}
SELECT u.pair_id,
       u.n_ref AS n_ref_uni, u.overlap AS ov_uni,
       u.overlap * 1000000 // nullif(u.n_ref, 0) AS rouge1_permicro,
       b.n_ref AS n_ref_bi, b.overlap AS ov_bi,
       b.overlap * 1000000 // nullif(b.n_ref, 0) AS rouge2_permicro
FROM pg1 u JOIN pg2 b ON b.pair_id = u.pair_id
ORDER BY u.pair_id
""",
    "pair_id",
    "n_ref_uni",
    "ov_uni",
    "rouge1_permicro",
    "n_ref_bi",
    "ov_bi",
    "rouge2_permicro",
)

ROUND11_QUERIES["rouge_ngram_overlap"] = (q_rouge_ngram_overlap, _ROUGE_SQL)


# ---------------------------------------------------------------------------
# bleu_ngram_precision — corpus-level BLEU-2
# ---------------------------------------------------------------------------


def q_bleu_ngram_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BLEU-2 over the same (reference, hypothesis)
    pairs: modified (clipped) unigram/bigram precision, brevity
    penalty, and the combined score — the machine-translation eval
    metric, computed the standard corpus way (sum matches and totals
    over ALL pairs, then one global ratio — never an average of
    per-sentence scores).

    Integer determinism: matches/totals/lengths are exact int64;
    p_n·1e6 are staged truncating divisions; the geometric mean uses
    floor(sqrt(p1_permicro·p2_permicro)) — IEEE sqrt is CORRECTLY
    ROUNDED (unlike ln/exp), and the operand ≤ 1e12 is exactly
    representable, so both engines floor the same double. The brevity
    penalty exp(1 - r/c) is the wave's single transcendental, quantized
    floor(·1e6 + 0.5) per the round-10 rule (residual libm-ulp risk
    documented; the operand is one double division of two BIGINTs,
    identical IEEE steps both engines).

    Scale design: identical pair-keyed aggregation as ROUGE (shared
    one-census helper :func:`_pair_gram_stats_both`), then ONE global
    six-moment reduction — O(1) final shuffle at any corpus size."""
    m = _pair_gram_stats_both(spark, sf_dir).agg(
        F.sum("ov_uni").cast("long").alias("m1"),
        F.sum("n_hyp_uni").cast("long").alias("t1"),
        F.sum("n_ref_uni").cast("long").alias("ref_len"),
        F.sum("n_hyp_uni").cast("long").alias("hyp_len"),
        F.sum("ov_bi").cast("long").alias("m2"),
        F.sum("n_hyp_bi").cast("long").alias("t2"),
    )
    return (
        m
        .withColumn(
            "p1_permicro", F.expr("m1 * 1000000 div nullif(t1, 0)").cast("long")
        )
        .withColumn(
            "p2_permicro", F.expr("m2 * 1000000 div nullif(t2, 0)").cast("long")
        )
        .withColumn(
            "bp_permicro",
            F.expr(
                "CASE WHEN hyp_len >= ref_len THEN CAST(1000000 AS BIGINT)"
                " ELSE CAST(floor(exp(1.0 - CAST(ref_len AS DOUBLE)"
                " / CAST(hyp_len AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) END"
            ),
        )
        .select(
            "m1",
            "t1",
            "m2",
            "t2",
            "ref_len",
            "hyp_len",
            "p1_permicro",
            "p2_permicro",
            "bp_permicro",
            F.expr(
                "bp_permicro * CAST(floor(sqrt(CAST(p1_permicro * p2_permicro"
                " AS DOUBLE))) AS BIGINT) div 1000000"
            )
            .cast("long")
            .alias("bleu_permicro"),
        )
    )


_BLEU_SQL = oracle_bigint(
    f"""
{_PAIR_PREFIX}, {_pair_gram_sql(1).lstrip()}, {_pair_gram_sql(2).lstrip()},
m1 AS (
  SELECT SUM(overlap) AS m1, SUM(n_hyp) AS t1,
         SUM(n_ref) AS ref_len, SUM(n_hyp) AS hyp_len
  FROM pg1
), m2 AS (
  SELECT SUM(overlap) AS m2, SUM(n_hyp) AS t2 FROM pg2
), p AS (
  SELECT m1.m1, m1.t1, m2.m2, m2.t2, m1.ref_len, m1.hyp_len,
         m1.m1 * 1000000 // nullif(m1.t1, 0) AS p1_permicro,
         m2.m2 * 1000000 // nullif(m2.t2, 0) AS p2_permicro,
         CASE WHEN m1.hyp_len >= m1.ref_len THEN CAST(1000000 AS BIGINT)
              ELSE CAST(floor(exp(1.0 - CAST(m1.ref_len AS DOUBLE)
                   / CAST(m1.hyp_len AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         END AS bp_permicro
  FROM m1 CROSS JOIN m2
)
SELECT m1, t1, m2, t2, ref_len, hyp_len, p1_permicro, p2_permicro,
       bp_permicro,
       bp_permicro * CAST(floor(sqrt(CAST(p1_permicro * p2_permicro
         AS DOUBLE))) AS BIGINT) // 1000000 AS bleu_permicro
FROM p
""",
    "m1",
    "t1",
    "m2",
    "t2",
    "ref_len",
    "hyp_len",
    "p1_permicro",
    "p2_permicro",
    "bp_permicro",
    "bleu_permicro",
)

ROUND11_QUERIES["bleu_ngram_precision"] = (q_bleu_ngram_precision, _BLEU_SQL)
