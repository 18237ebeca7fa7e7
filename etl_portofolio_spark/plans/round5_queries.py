"""Round-5 wave: scale-safe exact equi-depth, plus this round's new
analytics / pipeline queries.

Same contract as the sibling plan modules: pure DataFrame plans over
``catalog.load_table`` with exact DuckDB oracles, cross-engine
determinism rules throughout (integer cents, DuckDB sums cast to
BIGINT, double outputs only from identical expression trees over
exact integers, or rounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.plans.analytics_queries import cents
from etl_portofolio_spark.plans.round4_queries import (
    _N_DEPTH_BUCKETS,
    ORACLE_EQUI_DEPTH,
)

# --- exact equi-depth without a global sort ----------------------------------

#: Pre-bin count for the scalable equi-depth path. Plays the role of
#: the shuffle partition count: each pre-bin is sorted independently,
#: so the widest bin bounds the largest single task.
_DEPTH_PREBINS = 32


def q_equi_depth_exact_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth histogram with NO single-task global sort.

    The scale path for ``equi_depth_histogram``'s global ``ntile``
    (which funnels every row through one task): rows are pre-binned by
    a deterministic monotone key split — integer interpolation between
    the global min/max price — then each pre-bin independently sorts
    and row-numbers (one hash exchange, parallel across bins), and the
    global position of a row is its per-bin rank plus the exclusive
    running total of bin counts. Bucket assignment replays ntile's
    exact fill rule (first N mod B buckets take one extra row), so the
    result is byte-identical to the ntile plan — same oracle SQL.

    The bin-count frame is |bins| rows (metadata scale); its running
    total comes from a triangular broadcast self-join so the plan
    contains NO SinglePartition exchange anywhere (plan-asserted).
    Pre-bins are equi-width, so a pathological value distribution can
    skew bin sizes — at production scale the split points would come
    from a sampled sketch instead; the monotone-key + offset machinery
    is identical either way. Deterministic under recompute: the bin id
    is a pure function of the row and the (deterministic) min/max agg,
    never of physical partitioning.
    """
    B = _N_DEPTH_BUCKETS
    P = _DEPTH_PREBINS
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("price_c")
    )
    bounds = orders.agg(
        F.min("price_c").alias("lo"), F.max("price_c").alias("hi")
    )
    # monotone integer split: bin = (price-lo)*P div (hi-lo+1) ∈ [0,P)
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        "price_c",
        (
            (F.col("price_c") - F.col("lo"))
            * F.lit(P)
            / (F.col("hi") - F.col("lo") + F.lit(1))
        )
        .cast("long")
        .alias("bin"),
    )
    w = Window.partitionBy("bin").orderBy(
        F.col("price_c").asc(), F.col("o_orderkey").asc()
    )
    pos = binned.withColumn("rn", F.row_number().over(w))
    cnts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    lower = cnts.select(F.col("bin").alias("lbin"), F.col("cnt").alias("lcnt"))
    offsets = (
        cnts.join(F.broadcast(lower), F.col("lbin") < F.col("bin"), "left")
        .groupBy("bin")
        .agg(F.coalesce(F.sum("lcnt"), F.lit(0)).alias("offset"))
    )
    total = cnts.agg(F.sum("cnt").alias("n_total"))
    pos0 = F.col("offset") + F.col("rn") - F.lit(1)  # 0-indexed global rank
    q = F.col("n_total") / F.lit(B)  # integral floor below
    q_floor = F.floor(q).cast("long")
    r = F.col("n_total") % F.lit(B)
    fat = r * (q_floor + F.lit(1))  # rows living in the first r fat buckets
    bucket = (
        F.when(pos0 < fat, F.floor(pos0 / (q_floor + F.lit(1))))
        .otherwise(r + F.floor((pos0 - fat) / q_floor))
        .cast("int")
        + F.lit(1)
    )
    return (
        pos.join(F.broadcast(offsets), "bin")
        .crossJoin(F.broadcast(total))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("price_c").alias("lo_c"),
            F.max("price_c").alias("hi_c"),
            F.sum("price_c").alias("sum_c"),
        )
    )


# --- per-doc KL divergence from the corpus unigram distribution --------------


def q_kl_divergence_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc KL divergence KL(doc ‖ corpus) over unigram
    distributions — the domain-shift / novelty signal next to
    ``unigram_logprob_score``'s fluency signal (a doc can be fluent
    but off-distribution; KL catches it; both run off the same
    token-count pipeline).

    Identity used on both engines so the expression trees match:
    KL = S/n − ln n + ln N, with S = Σ c_doc·(ln c_doc − ln c_corpus)
    over the doc's tokens. Corpus counts attach as a WINDOW SUM over
    the token key (no vocabulary join — a corpus vocab doesn't
    broadcast at 100 TB); the corpus-total term N is hoisted off the
    persisted |docs|-row frame to one scalar. Rounded to 6 (per-doc
    double sum is order-sensitive in the last ulp).
    """
    from etl_portofolio_spark.caching import scoped_persist
    from etl_portofolio_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    # NO spread_by(doc_id) at the scan, deliberately (measured slower).
    # The 1-task tokenize+census chain the spread parallelizes
    # is only ~0.5 s of a wall dominated by the window-by-token
    # exchange that follows either way; the extra exchange costs more
    # than the parallelism buys at this SF, and production scans split
    # on their own.
    tok = docs.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    doc_tok = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c_doc"))
    with_corpus = doc_tok.withColumn(
        "c_corpus", F.sum("c_doc").over(Window.partitionBy("tok"))
    )
    per_doc = scoped_persist(
        with_corpus.groupBy("doc_id").agg(
            F.sum("c_doc").alias("n_tokens"),
            F.sum(
                F.col("c_doc").cast("double")
                * (
                    F.log(F.col("c_doc").cast("double"))
                    - F.log(F.col("c_corpus").cast("double"))
                )
            ).alias("s"),
        )
    )
    total = per_doc.agg(F.sum("n_tokens").alias("n_total"))
    n_d = F.col("n_tokens").cast("double")
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("s") / n_d
            - F.log(n_d)
            + F.log(F.col("n_total").cast("double")),
            6,
        ).alias("kl_nats"),
    )


def _oracle_kl() -> str:
    from etl_portofolio_spark.plans.round4_queries import _SQL_TOKENS

    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS.format(col='text')}) AS tok FROM documents
), doc_tok AS (
  SELECT doc_id, tok, count(*) AS c_doc FROM tok GROUP BY doc_id, tok
), with_corpus AS (
  SELECT doc_id, c_doc,
         CAST(sum(c_doc) OVER (PARTITION BY tok) AS BIGINT) AS c_corpus
  FROM doc_tok
), per_doc AS (
  SELECT doc_id,
         CAST(sum(c_doc) AS BIGINT) AS n_tokens,
         sum(CAST(c_doc AS DOUBLE)
             * (ln(CAST(c_doc AS DOUBLE)) - ln(CAST(c_corpus AS DOUBLE)))) AS s
  FROM with_corpus GROUP BY doc_id
), total AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total FROM per_doc
)
SELECT doc_id, n_tokens,
       round(s / CAST(n_tokens AS DOUBLE)
             - ln(CAST(n_tokens AS DOUBLE))
             + ln(CAST(total.n_total AS DOUBLE)), 6) AS kl_nats
FROM per_doc, total
"""


# --- int8 scalar quantization of embeddings ----------------------------------

_QUANT_ERR_GATE = 0.001


def q_embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization with reconstruction-error
    audit — the compression eval that decides whether an ANN index can
    store 4× more vectors per byte.

    Per-VECTOR scale (code = round((x−lo)·255/span), recon =
    lo + code·span/255): the whole computation is element-wise over
    the embedding array — a map-only plan with NO explode, NO join,
    NO shuffle; at 100 TB it streams. Integer outputs where possible
    (code checksum, count of dims with |err| > 1e-3); the one double
    (max abs error) is an order-free max of identical expression
    trees, rounded to 6. Zero-span vectors quantize to code 0 with
    zero error (guarded identically on both engines). Logic lives in
    ``operators.similarity.int8_quantize_audit`` (property-tested
    error bound |err| <= span/510).
    """
    from etl_portofolio_spark.operators.similarity import int8_quantize_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return int8_quantize_audit(emb, err_gate=_QUANT_ERR_GATE)


ORACLE_INT8_QUANTIZE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_min(CAST(embedding AS DOUBLE[])) AS lo,
         list_max(CAST(embedding AS DOUBLE[]))
           - list_min(CAST(embedding AS DOUBLE[])) AS span
  FROM embeddings
), coded AS (
  SELECT vec_id, v, lo, span,
         list_transform(v, x -> CASE WHEN span <> 0
             THEN round((x - lo) * 255.0 / span, 0) ELSE 0.0 END) AS codes,
         list_transform(v, x -> abs(x - (lo
             + (CASE WHEN span <> 0
                THEN round((x - lo) * 255.0 / span, 0) ELSE 0.0 END)
               * span / 255.0))) AS errs
  FROM base
)
SELECT vec_id,
       len(v) AS n_dims,
       CAST(list_sum(list_transform(codes, c -> CAST(c AS BIGINT))) AS BIGINT)
         AS code_sum,
       round(list_max(errs), 6) AS max_abs_err,
       len(list_filter(errs, e -> e > {_QUANT_ERR_GATE})) AS n_coarse_dims
FROM coded
"""


# --- simhash sketch-accuracy eval --------------------------------------------

_SIMHASH_EVAL_HAMMING = 12


def q_simhash_accuracy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy eval completing the triad (``ann_lsh_recall``,
    ``minhash_jaccard_estimate``): per block-LSH candidate pair, the
    simhash HAMMING distance next to exact shingle Jaccard — the
    calibration curve that justifies a hamming threshold at scale,
    where exact verification of every pair is unaffordable.

    Candidates come from the same 4×15-bit block equi-join as
    production (never all pairs), at a LOOSE hamming bound so the
    curve has spread; exact Jaccard runs on candidates only, reusing
    the persisted shingle frame (caller-released).
    """
    from etl_portofolio_spark.caching import scoped_persist
    from etl_portofolio_spark.operators import dedup as D

    docs_raw = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_pairs(
        docs_raw, "doc_id", "text", max_hamming=_SIMHASH_EVAL_HAMMING
    )
    sh = scoped_persist(D.shingled_docs(docs_raw, "doc_id", "text"))
    da = sh.select(F.col("doc_id").alias("id_a"), F.col("sh_set").alias("sh_a"))
    db = sh.select(F.col("doc_id").alias("id_b"), F.col("sh_set").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            "hamming",
            F.round(inter.cast("double") / union.cast("double"), 6).alias(
                "jaccard"
            ),
        )
    )


def _oracle_simhash_eval() -> str:
    from etl_portofolio_spark.operators import dedup as D
    from etl_portofolio_spark.plans.pipeline_queries import (
        _SQL_SHINGLES,
        _sql_simhash_fingerprint,
    )
    from etl_portofolio_spark.plans.round4_queries import _SQL_TOKENS

    w = D.SIMHASH_BITS // 4
    blocks = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS block_id,"
        f" (simhash >> {i * w}) & {(1 << w) - 1} AS block_val FROM fp"
        for i in range(4)
    )
    return f"""
WITH fp AS ({_sql_simhash_fingerprint()}),
blocks AS (
  {blocks}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM blocks a JOIN blocks b
    ON a.block_id = b.block_id AND a.block_val = b.block_val
   AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_EVAL_HAMMING}
), tok AS (
  SELECT doc_id, {_SQL_TOKENS.format(col='text')} AS t FROM documents
), sh AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='t')} AS s FROM tok
)
SELECT c.id_a, c.id_b, c.hamming,
       round(len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE,
             6) AS jaccard
FROM cand c
JOIN sh a ON a.doc_id = c.id_a
JOIN sh b ON b.doc_id = c.id_b
"""


# --- as-of join with a staleness tolerance -----------------------------------

_ASOF_TOLERANCE_S = 3600


def q_asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a staleness bound: the last click at or
    before each signup counts only if it happened within the last
    hour — otherwise the match is NULLed (stale attribution is worse
    than none; every ad-attribution and sensor-alignment pipeline has
    this knob).

    Same single-shuffle union + last(ignoreNulls) window as
    ``asof_last_click_before_signup`` — no range-join explosion; the
    tolerance is a post-window predicate, so the plan cost is
    identical to the unbounded variant. Gap in whole seconds (both
    engines floor the epoch before differencing).
    """
    events = load_table(spark, sf_dir, "events")
    both = events.where(F.col("event_type").isin("click", "signup"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    gap = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.col("last_click_ts"))
    fresh = gap <= _ASOF_TOLERANCE_S
    return (
        both.withColumn("last_click_ts", last_click)
        .where(F.col("event_type") == "signup")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("signup_ts"),
            F.when(fresh, F.col("last_click_ts")).alias("click_ts"),
            F.when(fresh, gap).alias("gap_s"),
        )
    )


ORACLE_ASOF_TOLERANCE = f"""
WITH ev AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
  FROM events WHERE event_type IN ('click', 'signup')
), gapped AS (
  SELECT event_id, user_id, ts AS signup_ts, last_click_ts,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(last_click_ts)) AS BIGINT) AS gap_s
  FROM ev WHERE event_type = 'signup'
)
SELECT event_id, user_id, signup_ts,
       CASE WHEN gap_s <= {_ASOF_TOLERANCE_S} THEN last_click_ts END AS click_ts,
       CASE WHEN gap_s <= {_ASOF_TOLERANCE_S} THEN gap_s END AS gap_s
FROM gapped
"""


# --- shuffle-skew diagnostics: heavy-hitter keys -----------------------------

_N_HEAVY_HITTERS = 20


def q_heavy_hitter_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 join keys by row count with their share of the table —
    the DETECTION side of skew handling (``skew_salted_agg`` is the
    mitigation): run this before a big join to decide whether a key
    needs salting or an AQE skew-join threshold tweak.

    One map-side-combinable count per key, then a TakeOrdered top-k
    (never a full global sort) and a broadcast scalar for the share.
    Deterministic under count ties via the key tiebreak.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_rows"))
    total = li.agg(F.count(F.lit(1)).alias("n_total"))
    top = cnt.orderBy(F.col("n_rows").desc(), F.col("l_partkey").asc()).limit(
        _N_HEAVY_HITTERS
    )
    return top.crossJoin(F.broadcast(total)).select(
        "l_partkey",
        "n_rows",
        F.round(
            F.col("n_rows").cast("double") / F.col("n_total").cast("double"), 6
        ).alias("share"),
    )


ORACLE_HEAVY_HITTERS = f"""
WITH cnt AS (
  SELECT l_partkey, count(*) AS n_rows FROM lineitem GROUP BY l_partkey
), total AS (
  SELECT count(*) AS n_total FROM lineitem
), top AS (
  SELECT l_partkey, n_rows FROM cnt
  ORDER BY n_rows DESC, l_partkey ASC LIMIT {_N_HEAVY_HITTERS}
)
SELECT l_partkey, n_rows,
       round(CAST(n_rows AS DOUBLE) / CAST(total.n_total AS DOUBLE), 6) AS share
FROM top, total
"""


# --- windowed audio energy from raw WAV bytes --------------------------------


def q_audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed PCM energy via REAL WAV decode: ramp payloads
    (sample i = (doc_id+i) % 2001 − 1000) synthesized per doc, chunk-
    walk decoded, then per-64-sample window the exact int64 sum of
    squares — a ramp makes sample ORDER observable, so an offset or
    byte-order bug in the decoder shifts windows and fails the hash
    (the constant-fill ``multimodal_pixel_stats`` can't see those).

    The oracle recomputes the ramp arithmetically in SQL — nothing
    floats anywhere (RMS is the caller's one division). Window
    fan-out happens inside the Arrow worker; Spark never holds
    sample-level rows.
    """
    from etl_portofolio_spark.operators.multimodal import (
        audio_window_energy,
        synthesize_ramp_audio,
    )
    from etl_portofolio_spark.operators.util import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    audio = synthesize_ramp_audio(docs, id_col="doc_id")
    return audio_window_energy(audio, id_col="doc_id", window=64)


ORACLE_AUDIO_ENERGY = """
WITH sized AS (
  SELECT doc_id, 1 + (doc_id * 37) % 300 AS n FROM documents
), ex AS (
  SELECT doc_id, unnest(range(n)) AS i FROM sized
), samples AS (
  SELECT doc_id, CAST(i // 64 AS BIGINT) AS win_id,
         (doc_id + i) % 2001 - 1000 AS s
  FROM ex
)
SELECT doc_id, win_id,
       count(*) AS n_samples,
       CAST(sum(s * s) AS BIGINT) AS sumsq
FROM samples GROUP BY doc_id, win_id
"""


# --- length-curriculum phase manifest ----------------------------------------

_CURRICULUM_PHASES = 3


def q_curriculum_phase_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum phases per language: docs ordered short
    → long, cut into 3 phases of ~equal TOKEN mass — the schedule
    manifest for curriculum training (short sequences first), emitted
    per language so each language stream keeps its own pacing.

    All integer arithmetic: windowed cumulative token sum per lang
    (parallel across languages — no global window), per-lang totals
    as a window aggregate in the same partitioning, phase =
    1 + (cum−1)·3 ÷ total. Deterministic order under length ties via
    the doc_id tiebreak.
    """
    from etl_portofolio_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "doc_id", "lang", text.token_count_ws("text").cast("long").alias("n_tokens")
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_tokens").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cum = F.sum("n_tokens").over(w_cum)
    total = F.sum("n_tokens").over(w_all)
    return per.select(
        "doc_id",
        "lang",
        "n_tokens",
        cum.alias("cum_tokens"),
        # floor() on both engines — a bare CAST would diverge (Spark
        # truncates, DuckDB rounds); the quotient is far from integer
        # boundaries except when exactly on one, where floor agrees
        (F.lit(1) + F.floor((cum - F.lit(1)) * F.lit(_CURRICULUM_PHASES) / total))
        .cast("long")
        .alias("phase"),
    )


ORACLE_CURRICULUM = f"""
WITH per AS (
  SELECT doc_id, lang,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
), cumd AS (
  SELECT doc_id, lang, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY lang
              ORDER BY n_tokens ASC, doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY lang) AS BIGINT) AS total
  FROM per
)
SELECT doc_id, lang, n_tokens, cum_tokens,
       CAST(1 + floor((cum_tokens - 1) * {_CURRICULUM_PHASES}
                      / CAST(total AS DOUBLE)) AS BIGINT) AS phase
FROM cumd
"""


# --- per-label embedding dispersion (single-pass variance identity) ----------


def q_label_dispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid dispersion of the embedding space — the
    classification-dataset audit (a label whose members scatter far
    from their centroid is noisy or heterogeneous; one that collapses
    is degenerate).

    Mean squared distance to the centroid WITHOUT a second pass: the
    variance identity E‖x−μ‖² = Σ_d (E[x_d²] − E[x_d]²) turns the
    naive centroid-then-join-then-distance (two shuffles + a
    broadcast) into ONE posexplode + ONE combinable aggregation per
    (label, dim) + a metadata-scale rollup to labels. Rounded to 6.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    ex = emb.select("label", F.posexplode("v").alias("dim", "val"))
    per_dim = ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").alias("s"),
        F.sum(F.col("val") * F.col("val")).alias("ss"),
    )
    n = F.col("n").cast("double")
    var_d = F.col("ss") / n - (F.col("s") / n) * (F.col("s") / n)
    return (
        per_dim.select("label", "n", var_d.alias("var_d"))
        .groupBy("label")
        .agg(
            F.max("n").alias("n_members"),
            F.round(F.sum("var_d"), 6).alias("mean_sq_dist"),
        )
    )


ORACLE_LABEL_DISPERSION = """
WITH v AS (
  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), ex AS (
  SELECT label, CAST(unnest(range(len(v))) AS BIGINT) AS dim, unnest(v) AS val
  FROM v
), per_dim AS (
  SELECT label, dim, count(*) AS n, sum(val) AS s, sum(val * val) AS ss
  FROM ex GROUP BY label, dim
), vard AS (
  SELECT label, n,
         ss / CAST(n AS DOUBLE)
           - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)) AS var_d
  FROM per_dim
)
SELECT label, CAST(max(n) AS BIGINT) AS n_members,
       round(sum(var_d), 6) AS mean_sq_dist
FROM vard GROUP BY label
"""


# --- MinHash threshold sweep (precision/recall calibration) ------------------

_SWEEP_TRUTH_JACCARD = 0.7


def q_minhash_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP/FP/FN counts of the MinHash agreement score at every
    candidate threshold 8..14 (of 16), against exact-Jaccard ≥ 0.7
    ground truth — the calibration table that picks the production
    threshold: sweep once on a sample, read off the
    precision/recall trade, set the knob.

    Reuses the ``minhash_jaccard_estimate`` pair frame verbatim (same
    LSH candidate path — the sweep only ever sees candidate pairs,
    which is also true in production, so the calibration measures the
    system that will actually run). Thresholds are a 7-row broadcast;
    counts are exact integers — the caller derives P/R.
    """
    from etl_portofolio_spark.caching import scoped_persist
    from etl_portofolio_spark.plans.round4_queries import q_minhash_jaccard_estimate

    est = scoped_persist(  # 7 threshold branches read the pair frame
        q_minhash_jaccard_estimate(spark, sf_dir).select(
            "n_agree", (F.col("jaccard") >= _SWEEP_TRUTH_JACCARD).alias("pos")
        )
    )
    ths = spark.range(8, 15).select(F.col("id").alias("t"))
    j = est.crossJoin(F.broadcast(ths))
    pred = F.col("n_agree") >= F.col("t")
    one = F.lit(1)
    return j.groupBy("t").agg(
        F.sum(F.when(F.col("pos") & pred, one).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("pos") & pred, one).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("pos") & ~pred, one).otherwise(0)).alias("fn"),
    )


def _oracle_threshold_sweep() -> str:
    from etl_portofolio_spark.plans.round4_queries import _oracle_minhash_estimate

    est = _oracle_minhash_estimate()
    values = ", ".join(f"({t})" for t in range(8, 15))
    return f"""
WITH est AS (
  {est}
), lab AS (
  SELECT n_agree, (jaccard >= {_SWEEP_TRUTH_JACCARD}) AS pos FROM est
), ths(t) AS (
  SELECT CAST(t AS BIGINT) FROM (VALUES {values}) v(t)
)
SELECT t,
       CAST(sum(CASE WHEN pos AND n_agree >= t THEN 1 ELSE 0 END) AS BIGINT)
         AS tp,
       CAST(sum(CASE WHEN NOT pos AND n_agree >= t THEN 1 ELSE 0 END) AS BIGINT)
         AS fp,
       CAST(sum(CASE WHEN pos AND n_agree < t THEN 1 ELSE 0 END) AS BIGINT)
         AS fn
FROM lab, ths
GROUP BY t
"""


# --- triangle counting over the co-purchase graph ----------------------------


def q_brand_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation in the brand co-purchase graph
    — the clustering-structure metric next to PageRank (influence) and
    connected components (reachability): a brand in many triangles
    sits inside a tight co-purchase community, not just a hub.

    The oriented-edge-join algorithm: orient every edge low→high
    (halves the edge list, kills duplicate orientations), join wedges
    a→b→c on the middle node, then semi-join the closing edge a→c.
    Fan-out is bounded by per-node out-degree in the ORIENTED graph —
    the standard trick that keeps wedge counts near-linear on
    power-law graphs (the hub's wedges are counted from its low-id
    side only). Integer counts end-to-end.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    x = ob.select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("u"))
    y = ob.select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("v"))
    e = (
        x.join(y, (x["ok"] == y["ok"]) & (F.col("u") < F.col("v")))
        .select("u", "v")
        .distinct()
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    wedges = e1.join(e2, "b")
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = wedges.join(e3, ["a", "c"], "left_semi")
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


ORACLE_TRIANGLES = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), e AS (
  SELECT DISTINCT a.p_brand AS u, b.p_brand AS v
  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v)
)
SELECT node, count(*) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS node FROM tri)
GROUP BY node
"""


# --- rare-shingle novelty detector -------------------------------------------

_RARE_DOC_FREQ = 2
_RARE_SHARE_GATE = 0.9


def q_idf_rare_token_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs dominated by corpus-RARE 3-gram shingles (document
    frequency ≤ 2) — the IDF-side novelty/garbage detector: hash soup,
    boilerplate IDs, and wrong-segmentation text light up here while
    passing length/punct gates, because their phrase patterns exist
    almost nowhere else in the corpus. (Unigrams are useless for this
    on any real corpus — common words cover everything; PHRASE-level
    document frequency is what discriminates.)

    Document frequency attaches as a window COUNT over the shingle
    key — the same no-vocabulary-join discipline as the unigram-LM
    family. Integer shingle counts; the share is the one rounded
    double; the 0.9 gate keeps only the kill list.
    """
    from etl_portofolio_spark.operators.dedup import shingled_docs

    docs = load_table(spark, sf_dir, "documents")
    grams = shingled_docs(docs, "doc_id", "text").select(
        "doc_id", F.explode("sh_set").alias("g")
    )
    with_df = grams.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    per_doc = with_df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(
            F.when(F.col("df") <= _RARE_DOC_FREQ, 1).otherwise(0)
        ).cast("long").alias("n_rare"),
    )
    share = F.col("n_rare").cast("double") / F.col("n_shingles").cast("double")
    return per_doc.select(
        "doc_id", "n_shingles", "n_rare", F.round(share, 6).alias("rare_share")
    ).where(F.round(share, 6) > _RARE_SHARE_GATE)


def _oracle_rare_filter() -> str:
    from etl_portofolio_spark.plans.pipeline_queries import _SQL_SHINGLES
    from etl_portofolio_spark.plans.round4_queries import _SQL_TOKENS

    return f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKENS.format(col='text')} AS t FROM documents
), sh AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='t')} AS s FROM tok
), ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), with_df AS (
  SELECT doc_id, CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS df FROM ex
), per_doc AS (
  SELECT doc_id,
         count(*) AS n_shingles,
         CAST(sum(CASE WHEN df <= {_RARE_DOC_FREQ} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rare
  FROM with_df GROUP BY doc_id
)
SELECT doc_id, n_shingles, n_rare,
       round(CAST(n_rare AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
         AS rare_share
FROM per_doc
WHERE round(CAST(n_rare AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
        > {_RARE_SHARE_GATE}
"""


# --- ANN first-relevant-rank (MRR numerator) eval ----------------------------

_MRR_QUERIES = 25
_MRR_K = 3  # matches the shared LSH oracle helper's top-3


def q_ann_first_hit_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query, the RANK of the first true neighbor inside the LSH
    result list — the integer numerator of MRR@k, the rank-position
    metric recall@k can't see (two indexes with equal recall can put
    the right answer first vs last; retrieval UIs care).

    Ground truth = brute-force cosine top-k on the fixed panel (the
    expensive side stays panel × corpus); candidate list = LSH
    same-bucket top-k. first_hit_rank is an integer min over matched
    ranks — NULL when no truth neighbor appears in the list (the
    caller's reciprocal treats it as 0). No doubles anywhere.
    """
    from etl_portofolio_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    truth = similarity.brute_force_topk(
        emb, query_ids=tuple(range(_MRR_QUERIES)), k=_MRR_K
    ).select("query_id", "neighbor_id")
    lsh = (
        similarity.lsh_ann_topk(emb, dim=64, num_planes=4, k=_MRR_K)
        .where(F.col("query_id") < _MRR_QUERIES)
        .select("query_id", F.col("neighbor_id").alias("cand_id"), "rank")
    )
    hits = lsh.join(
        truth,
        (lsh["query_id"] == truth["query_id"])
        & (lsh["cand_id"] == truth["neighbor_id"]),
        "left_semi",
    )
    first = hits.groupBy("query_id").agg(
        F.min("rank").cast("long").alias("first_hit_rank")
    )
    panel = truth.select("query_id").distinct()
    return panel.join(first, "query_id", "left").select(
        "query_id", "first_hit_rank"
    )


def _oracle_ann_first_hit() -> str:
    from etl_portofolio_spark.plans.pipeline_queries import _sql_ann_lsh, _sql_cosine

    lsh_sql = _sql_ann_lsh(4, 64).strip().removeprefix("WITH")
    ids = ", ".join(str(i) for i in range(_MRR_QUERIES))
    return f"""
WITH lsh_base AS (
  WITH {lsh_sql}
), vv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM vv WHERE vec_id IN ({ids})
), scored AS (
  SELECT q.query_id, vv.vec_id AS neighbor_id,
         {_sql_cosine('q.qv', 'vv.v')} AS cosine
  FROM vv, q WHERE vv.vec_id <> q.query_id
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {_MRR_K}
), cand AS (
  SELECT query_id, neighbor_id AS cand_id, rank FROM lsh_base
  WHERE query_id < {_MRR_QUERIES}
), first AS (
  SELECT c.query_id, CAST(min(c.rank) AS BIGINT) AS first_hit_rank
  FROM cand c
  WHERE EXISTS (SELECT 1 FROM truth t
                WHERE t.query_id = c.query_id AND t.neighbor_id = c.cand_id)
  GROUP BY c.query_id
)
SELECT p.query_id, f.first_hit_rank
FROM (SELECT DISTINCT query_id FROM truth) p
LEFT JOIN first f ON f.query_id = p.query_id
"""


# --- one k-means (Lloyd) update step over embeddings -------------------------


def q_kmeans_update_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means on the embedding table: assign
    every vector to its nearest seed centroid (the deterministic IVF
    codebook), then recompute each centroid as the per-dimension mean
    of its members — the iterative-ML-on-DataFrames step beside
    PageRank (weighted propagation) and connected components
    (min-label fixpoint).

    Assignment is the broadcast-centroid map-side rank from
    ``ivf_assign`` (no shuffle of the corpus); the update is ONE
    posexplode + ONE combinable aggregation on (cluster, dim) — new
    centroids are k×d rows (metadata scale), so iterating is a driver
    loop re-broadcasting 512 numbers, with ``localCheckpoint`` per
    round at real iteration counts (the ``operators/graph`` and
    connected-components discipline). Means rounded to 6 (per-group
    double sum order).
    """
    from etl_portofolio_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, num_centroids=8)
    ex = assigned.select("cluster_id", F.posexplode("v").alias("dim", "val"))
    return ex.groupBy("cluster_id", F.col("dim").cast("long").alias("dim")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.sum("val") / F.count(F.lit(1)), 6).alias("mean_val"),
    )


def _oracle_kmeans_update() -> str:
    from etl_portofolio_spark.plans.pipeline_queries import _sql_cosine

    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cents AS (
  SELECT vec_id AS centroid_id, v AS cv FROM v WHERE vec_id < 8
), assigned AS (
  SELECT vec_id, v, centroid_id AS cluster_id FROM (
    SELECT v.vec_id, v.v, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_sql_cosine('v.v', 'c.cv')} DESC,
                                       c.centroid_id ASC) AS rn
    FROM v, cents c
  ) WHERE rn = 1
), ex AS (
  SELECT cluster_id,
         CAST(unnest(range(len(v))) AS BIGINT) AS dim,
         unnest(v) AS val
  FROM assigned
)
SELECT cluster_id, dim, count(*) AS n_members,
       round(sum(val) / count(*), 6) AS mean_val
FROM ex GROUP BY cluster_id, dim
"""


# --- contamination observability report --------------------------------------


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc eval-overlap counts — the observability twin of
    ``decontaminate_ngram`` (which silently DROPS contaminated docs;
    before signing off a training set you want to see HOW contaminated
    each dropped doc was and whether the 13-gram threshold is doing
    anything).

    Same gram pipeline as the filter: one shingling pass, gram stream
    split by the eval predicate, eval grams broadcast; the report is
    two aggregations over the train grams (total distinct grams,
    matched grams) inner-joined so only contaminated docs surface.
    Integer counts; the ratio is the one rounded double.
    """
    from etl_portofolio_spark.caching import scoped_persist
    from etl_portofolio_spark.operators.dedup import shingled_docs
    from etl_portofolio_spark.plans.pipeline_queries import _DECON_K, _EVAL_MOD

    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.withColumn("__is_eval", F.col("doc_id") % _EVAL_MOD == 0)
    grams = scoped_persist(
        shingled_docs(flagged, "doc_id", "text", _DECON_K, extra_cols=("__is_eval",))
        .select("doc_id", "__is_eval", F.explode("sh_set").alias("gram"))
        .select("doc_id", "__is_eval", F.md5("gram").alias("gram_hash"))
    )
    eval_grams = grams.where(F.col("__is_eval")).select("gram_hash").distinct()
    train = grams.where(~F.col("__is_eval"))
    per_doc = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    matched = (
        train.join(F.broadcast(eval_grams), "gram_hash", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return per_doc.join(matched, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_matched",
        F.round(
            F.col("n_matched").cast("double") / F.col("n_grams").cast("double"), 6
        ).alias("overlap_ratio"),
    )


def _oracle_contamination_report() -> str:
    from etl_portofolio_spark.plans.pipeline_queries import (
        _DECON_K,
        _EVAL_MOD,
        _sql_shingles_k,
    )
    from etl_portofolio_spark.plans.round4_queries import _SQL_TOKENS

    return f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKENS.format(col='text')} AS t FROM documents
), sh AS (
  SELECT doc_id, {_sql_shingles_k('t', _DECON_K)} AS s FROM tok
), eval_grams AS (
  SELECT DISTINCT md5(g) AS gram_hash
  FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % {_EVAL_MOD} = 0)
), train_grams AS (
  SELECT doc_id, md5(g) AS gram_hash
  FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % {_EVAL_MOD} <> 0)
), per_doc AS (
  SELECT doc_id, count(*) AS n_grams FROM train_grams GROUP BY doc_id
), matched AS (
  SELECT doc_id, count(*) AS n_matched FROM train_grams
  WHERE gram_hash IN (SELECT gram_hash FROM eval_grams)
  GROUP BY doc_id
)
SELECT p.doc_id, p.n_grams, m.n_matched,
       round(CAST(m.n_matched AS DOUBLE) / CAST(p.n_grams AS DOUBLE), 6)
         AS overlap_ratio
FROM per_doc p JOIN matched m ON p.doc_id = m.doc_id
"""


# --- weighted PageRank over the co-purchase graph ----------------------------

_WPR_ITERS = 3
_WPR_DAMPING = 0.85


def q_brand_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: co-purchase COUNTS as edge weights, so a
    brand pair bought together in 50 orders pulls 50× the rank mass of
    a one-off — the influence ranking a recommender actually wants
    (the unweighted twin treats both the same).

    Same ``operators.graph.pagerank`` loop (join + dst-key aggregate
    per round, lazy unrolled for the CTE oracle); the only change is
    the contribution split rank·w/Σw. Weights are exact longs; ranks
    rounded to 6.
    """
    from etl_portofolio_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("src"))
    b = ob.select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("dst"))
    edges = (
        a.join(b, (a["ok"] == b["ok"]) & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = pagerank(
        edges,
        iterations=_WPR_ITERS,
        damping=_WPR_DAMPING,
        checkpoint_every=0,
        weight="w",
    )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _oracle_pagerank_weighted() -> str:
    it = """
, r{n} AS (
  SELECT e.dst AS node,
         {base} + {d} * sum(r{p}.rank * e.w / deg.deg) AS rank
  FROM edges e
  JOIN r{p} ON e.src = r{p}.node
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)"""
    iters = "".join(
        it.format(n=i + 1, p=i, base=1 - _WPR_DAMPING, d=_WPR_DAMPING)
        for i in range(_WPR_ITERS)
    )
    return f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), edges AS (
  SELECT a.p_brand AS src, b.p_brand AS dst, count(*) AS w
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
  GROUP BY a.p_brand, b.p_brand
), deg AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS deg FROM edges GROUP BY src
), r0 AS (
  SELECT src AS node, 1.0 AS rank FROM deg
){iters}
SELECT node, round(rank, 6) AS rank FROM r{_WPR_ITERS}
"""


# --- tokenizer efficiency audit ----------------------------------------------


def q_tokenizer_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer stats: whitespace vs BPE-ish token
    counts and chars/token — the audit that prices a corpus in tokens
    before training (token budgets, packing, and cost estimates all
    key off it, and a language whose bpe/ws ratio is an outlier is a
    tokenizer-fit red flag).

    Pure per-row regexp counting folded into ONE combinable per-lang
    aggregation — no explode (counts come from ``regexp_extract_all``
    lengths, not materialized token rows), no second pass. Exact
    integer sums; ratios are rounded doubles of the same sums.
    """
    from etl_portofolio_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.length("text").alias("chars"),
        text.token_count_ws("text").cast("long").alias("ws"),
        text.token_count_bpe("text").cast("long").alias("bpe"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("chars").alias("sum_chars"),
        F.sum("ws").alias("sum_ws_tokens"),
        F.sum("bpe").alias("sum_bpe_tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "sum_chars",
        "sum_ws_tokens",
        "sum_bpe_tokens",
        F.round(
            F.col("sum_bpe_tokens").cast("double")
            / F.col("sum_ws_tokens").cast("double"),
            6,
        ).alias("bpe_per_ws"),
        F.round(
            F.col("sum_chars").cast("double")
            / F.col("sum_bpe_tokens").cast("double"),
            6,
        ).alias("chars_per_bpe"),
    )


def _oracle_tokenizer_efficiency() -> str:
    from etl_portofolio_spark.operators.text import BPE_TOKEN_PATTERN
    from etl_portofolio_spark.plans.round4_queries import _SQL_TOKENS

    return f"""
WITH per AS (
  SELECT lang,
         CAST(length(text) AS BIGINT) AS chars,
         CAST(len({_SQL_TOKENS.format(col='text')}) AS BIGINT) AS ws,
         CAST(len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) AS BIGINT)
           AS bpe
  FROM documents
), agg AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(chars) AS BIGINT) AS sum_chars,
         CAST(sum(ws) AS BIGINT) AS sum_ws_tokens,
         CAST(sum(bpe) AS BIGINT) AS sum_bpe_tokens
  FROM per GROUP BY lang
)
SELECT lang, n_docs, sum_chars, sum_ws_tokens, sum_bpe_tokens,
       round(CAST(sum_bpe_tokens AS DOUBLE) / CAST(sum_ws_tokens AS DOUBLE), 6)
         AS bpe_per_ws,
       round(CAST(sum_chars AS DOUBLE) / CAST(sum_bpe_tokens AS DOUBLE), 6)
         AS chars_per_bpe
FROM agg
"""


#: dict the registry splices in: name -> (query fn, oracle sql or None)
ROUND5_QUERIES: dict = {
    "equi_depth_exact_scalable": (q_equi_depth_exact_scalable, ORACLE_EQUI_DEPTH),
    "kl_divergence_score": (q_kl_divergence_score, _oracle_kl()),
    "embedding_int8_quantize": (q_embedding_int8_quantize, ORACLE_INT8_QUANTIZE),
    "simhash_accuracy_eval": (q_simhash_accuracy_eval, _oracle_simhash_eval()),
    "asof_tolerance_join": (q_asof_tolerance_join, ORACLE_ASOF_TOLERANCE),
    "heavy_hitter_keys": (q_heavy_hitter_keys, ORACLE_HEAVY_HITTERS),
    "contamination_report": (q_contamination_report, _oracle_contamination_report()),
    "brand_pagerank_weighted": (
        q_brand_pagerank_weighted,
        _oracle_pagerank_weighted(),
    ),
    "tokenizer_efficiency": (q_tokenizer_efficiency, _oracle_tokenizer_efficiency()),
    "kmeans_update_step": (q_kmeans_update_step, _oracle_kmeans_update()),
    "audio_window_energy": (q_audio_window_energy, ORACLE_AUDIO_ENERGY),
    "idf_rare_token_filter": (q_idf_rare_token_filter, _oracle_rare_filter()),
    "ann_first_hit_rank": (q_ann_first_hit_rank, _oracle_ann_first_hit()),
    "brand_triangle_count": (q_brand_triangle_count, ORACLE_TRIANGLES),
    "minhash_threshold_sweep": (q_minhash_threshold_sweep, _oracle_threshold_sweep()),
    "curriculum_phase_manifest": (q_curriculum_phase_manifest, ORACLE_CURRICULUM),
    "label_dispersion_audit": (q_label_dispersion_audit, ORACLE_LABEL_DISPERSION),
}
