"""Training-data-pipeline queries: dedup, similarity, text, multimodal.

The phase-4 extension surface (SURVEY.md §7): first-class operators a
100 TB LLM-data pipeline needs, each with an exact DuckDB oracle. All
hashing is md5-based so both engines compute bit-identical values; all
float folds are sequential (zip_with+aggregate vs list_reduce) so IEEE
order matches. Repetitive oracle SQL is generated from the same
parameters as the Spark plan to keep the two structurally identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.functions.hashing import (
    FINGERPRINT_MOD,
    MINHASH_MOD,
    h32,
    h32_sql,
    h60_sql,
    minhash_perm_sql,
)
from etl_portofolio_spark.operators import dedup, similarity, text
from etl_portofolio_spark.operators.multimodal import decode_binary_metadata
from etl_portofolio_spark.operators.util import spread

# --- shared SQL fragments (DuckDB) -----------------------------------------

#: whitespace tokens of lowercased trimmed text — twin of text.tokens()
_SQL_TOKENS = r"regexp_split_to_array(lower(trim({col})), '\s+')"

#: distinct 3-shingles — twin of dedup.shingles(); generate_series(1, n-2)
#: is empty for n<3 in DuckDB, matching the Spark guard.
_SQL_SHINGLES = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len({t}) - 2, 0)),"
    " i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2]))"
)


def _sql_minhash_aggs(num_hashes: int) -> str:
    base = f"{h32_sql('shingle')} % {MINHASH_MOD}"
    return ",\n         ".join(
        f"min({minhash_perm_sql(i, base)}) AS mh{i:02d}" for i in range(num_hashes)
    )


def _sql_band_hash(b: int, rows: int) -> str:
    cols = " || '|' || ".join(f"mh{b * rows + r:02d}" for r in range(rows))
    return f"md5({cols})"


# --- exact dedup ------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by md5 of normalized text — the cheapest dedup rung.

    One shuffle on the 32-char content hash with map-side partial agg;
    at 100 TB the hash is computed at scan time and only (hash, id)
    pairs move.
    """
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs, "doc_id", "text")


ORACLE_DEDUP_EXACT = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
       min(doc_id) AS keep_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
"""


# --- minhash ---------------------------------------------------------------


def q_dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (16 salted-md5 mins over 3-shingles)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs, "doc_id", "text")


ORACLE_MINHASH_SIG = f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKENS.format(col='text')} AS t FROM documents
), sh AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='t')} AS s FROM tok
), ex AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
)
SELECT doc_id,
         {_sql_minhash_aggs(dedup.NUM_MINHASHES)}
FROM ex GROUP BY doc_id
"""


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified at >= 0.7.

    Candidates only from shared (band, hash) buckets — never a cross
    join — then exact Jaccard on the candidate set.
    """
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_candidate_pairs(docs, "doc_id", "text", threshold=0.7)


_N_BANDS = dedup.NUM_MINHASHES // dedup.BAND_ROWS
ORACLE_MINHASH_PAIRS = f"""
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
      f"SELECT doc_id, {b} AS band_id, {_sql_band_hash(b, dedup.BAND_ROWS)} AS band_hash FROM sig"
      for b in range(_N_BANDS)
  )}
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       len(list_intersect(sa.s, sb.s))::DOUBLE
         / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))::DOUBLE AS jaccard
FROM cands c
JOIN sh sa ON sa.doc_id = c.id_a
JOIN sh sb ON sb.doc_id = c.id_b
WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
        / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))::DOUBLE >= 0.7
"""


# --- simhash ---------------------------------------------------------------


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (frequency-weighted bit votes)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_fingerprints(docs, "doc_id", "text")


def _sql_simhash_fingerprint() -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN cnt ELSE -cnt END) AS bit{b:02d}"
        for b in range(dedup.SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN bit{b:02d} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(dedup.SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS.format(col='text')}) AS tok FROM documents
), weighted AS (
  SELECT doc_id, tok, count(*) AS cnt, {h60_sql('tok')} AS h
  FROM tok GROUP BY doc_id, tok
), votes AS (
  SELECT doc_id,
         {votes}
  FROM weighted GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


ORACLE_SIMHASH = _sql_simhash_fingerprint()


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming <= 3 via 4x15-bit block LSH."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)


_SIMHASH_BLOCK_W = dedup.SIMHASH_BITS // 4
ORACLE_SIMHASH_PAIRS = f"""
WITH fp AS ({_sql_simhash_fingerprint()}),
blocks AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, simhash, {i} AS block_id,"
      f" (simhash >> {i * _SIMHASH_BLOCK_W}) & {(1 << _SIMHASH_BLOCK_W) - 1} AS block_val FROM fp"
      for i in range(4)
  )}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM blocks a JOIN blocks b
  ON a.block_id = b.block_id AND a.block_val = b.block_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# --- n-gram jaccard ---------------------------------------------------------


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs blocked by language, >= 0.5."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.5)


ORACLE_NGRAM_JACCARD = f"""
WITH tok AS (
  SELECT doc_id, lang, {_SQL_TOKENS.format(col='text')} AS t FROM documents
), sh AS (
  SELECT doc_id, lang, {_SQL_SHINGLES.format(t='t')} AS s FROM tok
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS block,
       len(list_intersect(a.s, b.s))::DOUBLE
         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s))::DOUBLE
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.5
"""


# --- text analysis ----------------------------------------------------------


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + composite score (pure map stage)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    feats = text.quality_features("text")
    return docs.select("doc_id", *[v.alias(k) for k, v in feats.items()])


ORACLE_TEXT_QUALITY = rf"""
WITH f AS (
  SELECT doc_id,
         text AS txt,
         length(text) AS n_chars,
         {_SQL_TOKENS.format(col='text')} AS t,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS p_cnt
  FROM documents
), g AS (
  SELECT doc_id, n_chars, len(t) AS n_tokens,
         len(regexp_extract_all(txt, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe,
         list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a, b) -> a + b) AS sum_tok_len,
         p_cnt,
         len(list_filter(t, x -> list_contains({list(text.LANG_STOPWORDS['en'])}, x))) AS stop_hits
  FROM f
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_tokens_bpe AS BIGINT) AS n_tokens_bpe,
       sum_tok_len::DOUBLE / greatest(n_tokens, 1)::DOUBLE AS avg_token_len,
       p_cnt::DOUBLE / greatest(n_chars, 1)::DOUBLE AS punct_ratio,
       stop_hits::DOUBLE / greatest(n_tokens, 1)::DOUBLE AS stopword_ratio,
       0.4 * least(n_tokens::DOUBLE / 64.0, 1.0)
         + 0.3 * (1.0 - least((p_cnt::DOUBLE / greatest(n_chars, 1)::DOUBLE) * 4.0, 1.0))
         + 0.3 * least((stop_hits::DOUBLE / greatest(n_tokens, 1)::DOUBLE) * 4.0, 1.0) AS quality_score
FROM g
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID with deterministic argmax."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = text.tokens(F.col("text"))
    scores = text.langid_scores(toks)
    return docs.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(scores)],
        text.langid_pick(scores).alias("predicted_lang"),
    )


def _sql_langid() -> str:
    langs = sorted(text.LANG_STOPWORDS)
    score_exprs = ",\n         ".join(
        f"len(list_filter(t, x -> list_contains({list(text.LANG_STOPWORDS[lang])}, x)))::DOUBLE"
        f" / greatest(len(t), 1)::DOUBLE AS score_{lang}"
        for lang in langs
    )
    # closed form of the ascending strict-greater fold: max score wins,
    # earliest lang (ascending) wins ties.
    pick_branches = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in langs[i + 1 :]
        )
        pick_branches.append(f"WHEN {conds} THEN '{lang}'")
    pick = f"CASE {' '.join(pick_branches)} ELSE '{langs[-1]}' END"
    best = f"greatest({', '.join('score_' + lang for lang in langs)})"
    return f"""
WITH tok AS (
  SELECT doc_id, lang, {_SQL_TOKENS.format(col='text')} AS t FROM documents
), scored AS (
  SELECT doc_id, lang,
         {score_exprs}
  FROM tok
)
SELECT doc_id, lang, {', '.join('score_' + lang for lang in langs)},
       CASE WHEN {best} > 0 THEN {pick} ELSE 'und' END AS predicted_lang
FROM scored
"""


ORACLE_TEXT_LANGID = _sql_langid()


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint of each token stream."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", text.doc_fingerprint("text").alias("fingerprint")
    )


ORACLE_TEXT_FINGERPRINT = f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKENS.format(col='text')} AS t FROM documents
)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT), list_transform(t, x -> {h32_sql('x')})),
         (a, b) -> (a * 31 + b) % {FINGERPRINT_MOD}
       ) AS fingerprint
FROM tok
"""


# --- similarity search ------------------------------------------------------

_SQL_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(generate_series(1, len({a})),"
    " i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
)
_SQL_NORM = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform({a}, x -> x * x)),"
    " (x, y) -> x + y))"
)


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"{_SQL_DOT.format(a=a, b=b)} / "
        f"({_SQL_NORM.format(a=a)} * {_SQL_NORM.format(a=b)})"
    )


def q_ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 5 query vectors (broadcast, no shuffle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(emb, query_ids=(0, 1, 2, 3, 4), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


ORACLE_ANN_BRUTE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id IN (0, 1, 2, 3, 4)
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         {_sql_cosine('q.qv', 'v.v')} AS cosine
  FROM v, q WHERE v.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY query_id, cosine DESC, neighbor_id ASC) AS rn,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 within hyperplane-LSH buckets (the scale path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.lsh_ann_topk(emb, dim=64, num_planes=4, k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _sql_ann_lsh(num_planes: int, dim: int) -> str:
    planes = similarity.hyperplane_matrix(num_planes, dim)
    values = ", ".join(
        f"({p}, {[float(w) for w in planes[p]]})" for p in range(num_planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), planes(plane_id, w) AS (
  SELECT * FROM (VALUES {values})
), bucketed AS (
  SELECT v.vec_id, v.v,
         CAST(sum(CASE WHEN {_SQL_DOT.format(a='v.v', b='planes.w')} > 0
                  THEN 1 << plane_id ELSE 0 END) AS BIGINT) AS bucket
  FROM v, planes GROUP BY v.vec_id, v.v
), scored AS (
  SELECT a.vec_id AS query_id, a.bucket AS bucket, b.vec_id AS neighbor_id,
         {_sql_cosine('a.v', 'b.v')} AS cosine
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, bucket, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


ORACLE_ANN_LSH = _sql_ann_lsh(4, 64)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (nprobe=1) ANN top-3 within nearest-centroid clusters."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(emb, query_ids=(10, 11, 12, 13, 14), num_centroids=8, k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


ORACLE_ANN_IVF = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), cents AS (
  SELECT vec_id AS centroid_id, v AS cv FROM v WHERE vec_id < 8
), assigned AS (
  SELECT vec_id, v, centroid_id AS cluster_id FROM (
    SELECT v.vec_id, v.v, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_sql_cosine('v.v', 'c.cv')} DESC, c.centroid_id ASC) AS rn
    FROM v, cents c
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv, cluster_id FROM assigned
  WHERE vec_id IN (10, 11, 12, 13, 14)
), scored AS (
  SELECT q.query_id, a.cluster_id, a.vec_id AS neighbor_id,
         {_sql_cosine('q.qv', 'a.v')} AS cosine
  FROM assigned a JOIN q ON a.cluster_id = q.cluster_id AND a.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, cluster_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_ann_brute_force_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (numpy/BLAS via mapInPandas) brute-force top-5.

    ~5x faster than the expression-fold version at 50 queries x 5k
    corpus. BLAS cosines drift from a sequential fold by float-summation
    order, so the hashed output is RANK-ONLY (query_id, neighbor_id,
    rank) — fully oracle-checkable because the neighbor set + ordering
    are summation-order-independent at any realistic cosine gap; the
    cosine values themselves are asserted against the oracle-checked
    expression variant in tests/test_similarity_np.py to 1e-9.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk_np(emb, query_ids=(0, 1, 2, 3, 4), k=5)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


ORACLE_ANN_BRUTE_NP = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id IN (0, 1, 2, 3, 4)
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         {_sql_cosine('q.qv', 'v.v')} AS cosine
  FROM v, q WHERE v.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked near-dup pairs (cosine >= 0.35, 2 planes x 6 tables)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(
        emb, threshold=0.35, dim=64, num_planes=2, num_tables=6
    )


def _sql_near_dup_lsh(threshold: float, dim: int, num_planes: int, num_tables: int) -> str:
    """Oracle mirroring the multi-table LSH blocking exactly (same planes)."""
    planes_all = similarity.hyperplane_matrix(num_tables * num_planes, dim)
    values = ", ".join(
        f"({r // num_planes}, {r % num_planes}, {[float(w) for w in planes_all[r]]})"
        for r in range(num_tables * num_planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), planes(t, plane_id, w) AS (
  SELECT * FROM (VALUES {values})
), bucketed AS (
  SELECT v.vec_id, v.v, planes.t,
         CAST(sum(CASE WHEN {_SQL_DOT.format(a='v.v', b='planes.w')} > 0
                  THEN 1 << plane_id ELSE 0 END) AS BIGINT) AS b
  FROM v, planes GROUP BY v.vec_id, v.v, planes.t
), cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_sql_cosine('a.v', 'b.v')} AS cosine
  FROM bucketed a JOIN bucketed b
    ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id
)
SELECT DISTINCT id_a, id_b, cosine FROM cand WHERE cosine >= {threshold}
"""


ORACLE_EMB_NEAR_DUP = _sql_near_dup_lsh(0.35, 64, 2, 6)


# --- multimodal -------------------------------------------------------------


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: mapInPandas fake-decode over opaque bytes.

    The documents' text is encoded to a binary column (standing in for
    stored image bytes); an Arrow-batched mapInPandas extracts metadata
    with a deterministic md5-derived fake decode (real codec stubbed —
    see operators/multimodal.py). Oracle recomputes the same values in
    SQL, proving the UDF plumbing end to end.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    binary = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    return decode_binary_metadata(binary, id_col="doc_id", bin_col="content")


ORACLE_MULTIMODAL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       substr(md5(text), 1, 8) AS content_hash_prefix,
       CAST(320 + CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 1600 AS BIGINT) AS fake_width,
       CAST(240 + CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 1200 AS BIGINT) AS fake_height,
       CAST(1 + CAST('0x' || substr(md5(text), 9, 2) AS BIGINT) % 3 AS BIGINT) AS fake_channels
FROM documents
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary→binary resize plumbing (fake resample; hex for the oracle)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    binary = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("content"))
    from etl_portofolio_spark.operators.multimodal import resize_binary

    out = resize_binary(binary, 64, 64)
    return out.select(
        "doc_id", "out_width", "out_height", F.hex("thumbnail").alias("thumb_hex")
    )


ORACLE_MULTIMODAL_RESIZE = """
SELECT doc_id,
       CAST(64 AS BIGINT) AS out_width,
       CAST(64 AS BIGINT) AS out_height,
       upper(md5(text || ':64x64')) AS thumb_hex
FROM documents
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out: one row per sampled fake video frame."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    binary = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("content"))
    from etl_portofolio_spark.operators.multimodal import sample_frames

    return sample_frames(binary, stride=4)


ORACLE_MULTIMODAL_FRAMES = """
WITH d AS (
  SELECT doc_id, text,
         8 + CAST('0x' || substr(md5(text), 11, 2) AS BIGINT) % 8 AS n_frames
  FROM documents
)
SELECT doc_id,
       CAST(unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 4)) AS BIGINT) AS frame_idx,
       md5(text || ':' || CAST(unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 4)) AS VARCHAR)) AS frame_hash
FROM d
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) — batch twin of the
    applyInPandasWithState streaming operator."""
    from etl_portofolio_spark.streaming.stateful import sessionize_batch

    events = load_table(spark, sf_dir, "events")
    return sessionize_batch(events, gap_minutes=30)


def _oracle_sessionize() -> str:
    from etl_portofolio_spark.streaming.stateful import oracle_sessionize_sql

    return oracle_sessionize_sql(30)


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated corpus: keep the min-id doc per exact content group.

    The consuming form of exact dedup — what a training pipeline actually
    writes out. Left-semi join of the corpus against the keeper set: the
    corpus shuffles once on doc_id; no wide row ever moves twice.
    """
    docs = load_table(spark, sf_dir, "documents")
    keepers = dedup.exact_dedup_groups(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    return docs.join(keepers, "doc_id", "left_semi").select("doc_id", "lang", "text")


ORACLE_DEDUP_KEEP_FIRST = r"""
SELECT doc_id, lang, text FROM documents
WHERE doc_id IN (
  SELECT min(doc_id) FROM documents
  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
)
"""


def q_text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level rollup per language: docs, tokens, distinct tokens.

    The fan-in shape of a training-data report: explode to tokens once,
    then one grouped agg (count-distinct runs as its own expand) — at
    100 TB the explode stays map-side and only (lang, token) pairs
    shuffle.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "lang", "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok")
    )
    return tok.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
    )


ORACLE_CORPUS_STATS = rf"""
WITH tok AS (
  SELECT lang, doc_id, unnest({_SQL_TOKENS.format(col='text')}) AS tok
  FROM documents
)
SELECT lang,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_tokens,
       count(DISTINCT tok) AS n_distinct_tokens
FROM tok GROUP BY lang
"""


def q_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: dedup → quality gate → per-lang stats.

    Exact-dedup the corpus, keep docs passing a quality threshold, then
    summarize per language — the three pipeline stages chained as one
    lazy plan so Catalyst fuses the scans (documents is read once for
    the dedup branch and once for the semi-join probe, both pruned to
    the used columns).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    keepers = dedup.exact_dedup_groups(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    feats = text.quality_features("text")
    kept = (
        docs.join(keepers, "doc_id", "left_semi")
        .select(
            "doc_id",
            "lang",
            feats["n_tokens"].alias("n_tokens"),
            feats["quality_score"].alias("quality_score"),
        )
        .where(F.col("quality_score") >= 0.5)
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


ORACLE_PIPELINE_E2E = rf"""
WITH keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
), feats AS (
  SELECT doc_id, lang,
         len({_SQL_TOKENS.format(col='text')}) AS n_tokens,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS p_cnt,
         len(list_filter({_SQL_TOKENS.format(col='text')},
             x -> list_contains({list(text.LANG_STOPWORDS['en'])}, x))) AS stop_hits
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM keepers)
), scored AS (
  SELECT doc_id, lang, n_tokens,
         0.4 * least(n_tokens::DOUBLE / 64.0, 1.0)
           + 0.3 * (1.0 - least((p_cnt::DOUBLE / greatest(n_chars, 1)::DOUBLE) * 4.0, 1.0))
           + 0.3 * least((stop_hits::DOUBLE / greatest(n_tokens, 1)::DOUBLE) * 4.0, 1.0) AS quality_score
  FROM feats
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM scored WHERE quality_score >= 0.5
GROUP BY lang
"""


def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column surface: typed extraction + aggregation over props.

    ``from_json`` with a declared schema (never schema_of_json at scale —
    one pass, no sampling) then a grouped aggregate on the extracted
    field. JSON parse happens once per row in the scan stage.
    """
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn(
        "k", F.from_json(F.col("props"), "k int").getField("k")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


ORACLE_JSON_PROPS = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(props::JSON->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(min(CAST(props::JSON->>'k' AS INTEGER)) AS BIGINT) AS min_k,
       CAST(max(CAST(props::JSON->>'k' AS INTEGER)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation: majority label among the 5 nearest neighbors.

    Similarity search applied to labeling (the standard semi-supervised
    trick in training-data pipelines): brute-force top-5 per query,
    join back the neighbor labels, majority vote with deterministic
    ties (higher count first, then smaller label).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    topk = similarity.brute_force_topk(emb, query_ids=(20, 21, 22, 23, 24), k=5)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "n_votes")
    )


ORACLE_KNN_VOTE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id IN (20, 21, 22, 23, 24)
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         {_sql_cosine('q.qv', 'v.v')} AS cosine
  FROM v, q WHERE v.vec_id <> q.query_id
), topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 5
), votes AS (
  SELECT t.query_id, e.label, count(*) AS n_votes
  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
  GROUP BY t.query_id, e.label
)
SELECT query_id, label AS predicted_label, n_votes FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, label ASC) AS rn
  FROM votes
) WHERE rn = 1
"""


def q_stratified_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: first-N-by-id docs per source.

    Source-mix control for training corpora: a per-stratum window quota
    (row_number <= N). One shuffle on the stratum key; the deterministic
    order column (doc_id) makes reruns and oracles exact — never
    ``sample()`` inside a quota.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("source", "doc_id", "lang", F.col("rn").cast("long").alias("rn"))
    )


ORACLE_STRATIFIED = """
SELECT source, doc_id, lang, CAST(rn AS BIGINT) AS rn FROM (
  SELECT source, doc_id, lang,
         row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 5
"""


#: name -> (query_fn, oracle_sql | None)
def q_dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over MinHash-LSH pairs.

    The step that turns pairwise near-dup output into an actionable
    keep/drop list — every doc in a cluster maps to the cluster's min
    doc_id (the canonical keeper). Iterative min-label propagation
    (O(diameter) shuffle rounds, see operators/dedup.connected_components);
    the oracle computes the same fixpoint with a recursive CTE.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs, "doc_id", "text", threshold=0.7)
    cc = dedup.connected_components(pairs)
    return cc.select(
        F.col("id").alias("doc_id"), F.col("component").cast("long").alias("component")
    )


ORACLE_DEDUP_CC = f"""
WITH RECURSIVE pairs AS (
  {ORACLE_MINHASH_PAIRS}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), walk(id, reach) AS (
  SELECT src, src FROM edges
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
)
SELECT id AS doc_id, CAST(min(reach) AS BIGINT) AS component
FROM walk GROUP BY id
"""


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub report: per-kind match counts + md5 of redacted text.

    The fixture corpus contains no live PII, so a deterministic contact
    blurb (derived from doc_id THE SAME WAY in both engines) is appended
    before scrubbing — every row provably exercises all three patterns.
    Map-only codegen: zero shuffle, no Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    blurb = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com ip 10.1.2."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" tel +62 811-555-"),
        (1000 + F.col("doc_id") % 9000).cast("string"),
    )
    seeded = docs.select(F.col("doc_id"), blurb.alias("t"))
    counts = text.pii_counts(F.col("t"))
    return seeded.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ip"),
        counts["phone"].alias("n_phone"),
        F.md5(text.redact_pii(F.col("t"))).alias("redacted_md5"),
    )


def _sql_pii_oracle() -> str:
    blurb = (
        "text || ' contact: user' || CAST(doc_id AS VARCHAR)"
        " || '@mail.example.com ip 10.1.2.' || CAST(doc_id % 250 AS VARCHAR)"
        " || ' tel +62 811-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
    )
    redacted = "t"
    for _, pat, repl in text.PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    count_cols = ",\n       ".join(
        f"CAST(len(regexp_extract_all(t, '({pat})', 1)) AS BIGINT) AS n_{alias}"
        for (name, pat, _), alias in zip(text.PII_PATTERNS, ("email", "ip", "phone"))
    )
    return f"""
WITH seeded AS (
  SELECT doc_id, {blurb} AS t FROM documents
)
SELECT doc_id,
       {count_cols},
       md5({redacted}) AS redacted_md5
FROM seeded
"""


ORACLE_PII = _sql_pii_oracle()


def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf, deterministic ties)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_topk(docs, "doc_id", "text", k=3)


ORACLE_TFIDF = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS.format(col='text')}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2
), dfq AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, dfq.df,
         round(tf.tf * (ln((n.n_docs + 1)::DOUBLE / (dfq.df + 1)) + 1.0), 6)
           AS score
  FROM tf JOIN dfq ON tf.tok = dfq.tok CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rank
  FROM scored
)
SELECT doc_id, tok, tf, df, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_multimodal_container_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container codec round-trip: build spec-valid PNG/GIF/BMP/WAV
    files per doc (params derived from md5(text), format from doc_id%4),
    then recover the params by actually parsing the bytes — signature
    sniff + struct unpack + RIFF chunk walk (operators/codecs.py). Two
    Arrow mapInPandas crossings (synthesize, decode) prove binary
    columns survive the JVM<->Python boundary intact. The oracle
    recomputes the embedded params from md5(text) in SQL: the parser
    must agree from the bytes alone.
    """
    from etl_portofolio_spark.operators.multimodal import (
        decode_container_metadata,
        synthesize_containers,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    containers = synthesize_containers(docs, id_col="doc_id", text_col="text")
    return decode_container_metadata(containers, id_col="doc_id", bin_col="content")


_SQL_HEX = "CAST('0x' || substr(md5(text), {a}, {n}) AS BIGINT)"
ORACLE_CONTAINER_ROUNDTRIP = f"""
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                       WHEN 2 THEN 'bmp' ELSE 'wav' END AS format,
       CASE WHEN doc_id % 4 <= 2
            THEN CAST(1 + {_SQL_HEX.format(a=1, n=4)} % 64 AS BIGINT) END AS width,
       CASE WHEN doc_id % 4 <= 2
            THEN CAST(1 + {_SQL_HEX.format(a=5, n=4)} % 48 AS BIGINT) END AS height,
       CASE doc_id % 4
            WHEN 0 THEN CAST([1, 3, 4][1 + {_SQL_HEX.format(a=9, n=2)} % 3] AS BIGINT)
            WHEN 1 THEN 3
            WHEN 2 THEN 3
            ELSE CAST(1 + {_SQL_HEX.format(a=9, n=2)} % 2 AS BIGINT) END AS channels,
       CASE WHEN doc_id % 4 = 3
            THEN CAST(8000 + ({_SQL_HEX.format(a=11, n=4)} % 8) * 4000 AS BIGINT) END AS sample_rate,
       CASE WHEN doc_id % 4 = 3
            THEN CAST(1 + {_SQL_HEX.format(a=15, n=4)} % 256 AS BIGINT) END AS n_samples
FROM documents
"""


# --- decontamination / quality filters --------------------------------------


def _sql_shingles_k(t: str, k: int) -> str:
    """Distinct k-shingle SQL — generalized twin of :data:`_SQL_SHINGLES`."""
    concat = " || ' ' || ".join(f"{t}[i+{j}]" if j else f"{t}[i]" for j in range(k))
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({t}) - {k - 1}, 0)), i -> {concat}))"
    )

_DECON_K = 8
_EVAL_MOD = 20  # doc_id % 20 == 0 -> the held-out "eval suite"


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 20 != 0) that
    survive the "shares NO 8-gram with the eval set (doc_id % 20 == 0)"
    rule. Eval grams are md5'd, deduped, and BROADCAST, so contamination
    detection is a map-side semi-join — the corpus never shuffles to be
    probed. Single-pass corpus form: train and eval come from the same
    table, so the gram stream is built once and split by the predicate
    (operators/dedup.decontaminate_corpus).
    """
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.decontaminate_corpus(
        docs, "doc_id", "text", eval_pred=F.col("doc_id") % _EVAL_MOD == 0,
        k=_DECON_K,
    )
    return out.select("doc_id", "lang", "source", "n_chars")


ORACLE_DECONTAMINATE = f"""
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
), contaminated AS (
  SELECT DISTINCT doc_id FROM train_grams
  WHERE gram_hash IN (SELECT gram_hash FROM eval_grams)
)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id % {_EVAL_MOD} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


def q_text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition quality signals: distinct-token ratio and
    top-token share (text.repetition_features). Pure per-row array
    expressions — zero shuffle, no Python; the filter threshold is the
    caller's (here: emit the features for every doc).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", text.tokens("text").alias("__toks"))
    feats = text.repetition_features(F.col("__toks"))
    return toked.select(
        "doc_id", *[c.alias(name) for name, c in feats.items()]
    )


ORACLE_REPETITION = f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKENS.format(col='text')} AS t FROM documents
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
       1.0 - CAST(len(list_distinct(t)) AS DOUBLE)
             / CAST(greatest(len(t), 1) AS DOUBLE) AS repetition_ratio,
       CAST(list_max(list_transform(list_distinct(t),
                x -> len(list_filter(t, y -> y = x)))) AS DOUBLE)
             / CAST(greatest(len(t), 1) AS DOUBLE) AS top_token_ratio
FROM tok
"""


def q_quantile_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-outlier trim: keep docs inside the exact per-language
    [p05, p95] of n_chars, via percent_rank over (lang, n_chars) — the
    deterministic, oracle-exact form. At 100 TB swap the global window
    for a two-pass approx: per-lang approx_percentile thresholds
    (tiny aggregate), broadcast, then a map-side range filter — same
    output modulo sketch error, no per-lang global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").asc())
    ranked = docs.select(
        "doc_id", "lang", "n_chars", F.percent_rank().over(w).alias("pr")
    )
    return ranked.where((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))


ORACLE_QUANTILE_OUTLIER = """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         percent_rank() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS pr
  FROM documents
)
SELECT doc_id, lang, n_chars, pr
FROM ranked WHERE pr >= 0.05 AND pr <= 0.95
"""


def q_fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part catalog: near-identical names
    (Levenshtein <= 3) found WITHIN first-word blocks — distinct names
    first (the match universe is 64 values, not 2000 rows), equi-join
    on the block key, exact edit distance as the residual
    (operators/er.py). Both engines' levenshtein is the classic
    unit-cost DP, so the oracle mirrors blocking and threshold exactly.
    """
    from etl_portofolio_spark.operators.er import blocked_fuzzy_pairs

    part = load_table(spark, sf_dir, "part")
    return blocked_fuzzy_pairs(
        part, "p_name", block=F.split(F.col("p_name"), " ")[0], max_dist=3
    )


ORACLE_FUZZY_MATCH = """
WITH vals AS (
  SELECT DISTINCT p_name AS name FROM part
), blocked AS (
  SELECT name, split_part(name, ' ', 1) AS block FROM vals
)
SELECT a.name AS name_a, b.name AS name_b, a.block AS block,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 3
"""


def q_feature_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score normalization of doc length — the broadcast-
    stats feature pattern: per-group stats as EXACT integer aggregates
    (sum, sum of squares, count — order-independent, unlike a raw
    double stddev), broadcast-joined back, and the float math applied
    identically per row in both engines from those three integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    joined = docs.join(F.broadcast(stats), "lang")
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * mean
    ) / (F.col("n") - F.lit(1)).cast("double")
    return joined.select(
        "doc_id",
        "lang",
        "n_chars",
        ((F.col("n_chars").cast("double") - mean) / F.sqrt(var)).alias("z"),
    )


ORACLE_ZSCORE = """
WITH stats AS (
  SELECT lang, count(*) AS n, sum(n_chars) AS s1,
         sum(n_chars * n_chars) AS s2
  FROM documents GROUP BY lang
)
SELECT doc_id, d.lang, n_chars,
       (CAST(n_chars AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                / CAST(n - 1 AS DOUBLE)) AS z
FROM documents d JOIN stats USING (lang)
"""


def q_dedup_incremental_novel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: which docs of a NEW batch (odd doc_id) are
    novel against the HISTORICAL corpus (even doc_id)? The daily-ingest
    production shape — the history side is a precomputed index (here
    rebuilt; in production stored bands), the new batch is small.
    Two screens, both equi-joins: exact content-hash anti-join, then
    MinHash LSH band anti-join (any shared (band, hash) bucket with
    history disqualifies). New-batch bands would broadcast at real
    scale; history never recomputes per batch.
    """
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    hist = docs.where(F.col("doc_id") % 2 == 0)

    new_hash = new.select(
        "doc_id", F.md5(dedup.normalized_text("text")).alias("content_hash")
    )
    hist_hash = hist.select(F.md5(dedup.normalized_text("text")).alias("content_hash"))
    survivors = new_hash.join(hist_hash, "content_hash", "left_anti")

    new_bands = dedup.minhash_bands(
        dedup.minhash_signatures(new, "doc_id", "text"), "doc_id"
    )
    hist_bands = dedup.minhash_bands(
        dedup.minhash_signatures(hist, "doc_id", "text"), "doc_id"
    ).select("band_id", "band_hash")
    near_dup_ids = (
        new_bands.join(hist_bands, ["band_id", "band_hash"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        survivors.join(near_dup_ids, "doc_id", "left_anti")
        .select("doc_id", "content_hash")
    )


_ORACLE_SIG_CTE = f"""
tok AS (
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
      f"SELECT doc_id, {b} AS band_id, {_sql_band_hash(b, dedup.BAND_ROWS)} AS band_hash FROM sig"
      for b in range(_N_BANDS)
  )}
)"""

ORACLE_INCREMENTAL_NOVEL = rf"""
WITH {_ORACLE_SIG_CTE},
hashes AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash
  FROM documents
),
exact_novel AS (
  SELECT n.doc_id, n.content_hash FROM hashes n
  WHERE n.doc_id % 2 = 1
    AND n.content_hash NOT IN (SELECT content_hash FROM hashes WHERE doc_id % 2 = 0)
),
near_dup AS (
  SELECT DISTINCT nb.doc_id
  FROM bands nb
  WHERE nb.doc_id % 2 = 1
    AND EXISTS (SELECT 1 FROM bands hb
                WHERE hb.doc_id % 2 = 0
                  AND hb.band_id = nb.band_id AND hb.band_hash = nb.band_hash)
)
SELECT doc_id, content_hash FROM exact_novel
WHERE doc_id NOT IN (SELECT doc_id FROM near_dup)
"""


#: Per-source sampling rates in basis points (of 10000) — the "domain
#: mixing weights" of a pretraining recipe. Sources not listed keep
#: the default rate.
_MIX_RATES_BP: dict[str, int] = {"src0": 10000, "src1": 7500, "src2": 5000, "src3": 2500}
_MIX_DEFAULT_BP = 1250


def q_corpus_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing: keep each doc iff
    ``h32(doc_id) % 10000 < rate_bp(source)`` — hash-gated Bernoulli
    sampling with per-source rates, the standard way to hit domain
    mixing weights reproducibly (no RNG state, same result on any
    cluster topology, rerun, or engine — which is exactly why the
    oracle can check it). Pure map-side filter: the rate table is a
    literal CASE, no join, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(_MIX_DEFAULT_BP)
    for src, bp in sorted(_MIX_RATES_BP.items()):
        rate = F.when(F.col("source") == src, F.lit(bp)).otherwise(rate)
    gate = h32(F.col("doc_id").cast("string")) % 10000
    return docs.where(gate < rate).select("doc_id", "source", "lang", "n_chars")


ORACLE_CORPUS_MIX = f"""
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000
      < CASE {" ".join(f"WHEN source = '{s}' THEN {bp}" for s, bp in sorted(_MIX_RATES_BP.items()))}
             ELSE {_MIX_DEFAULT_BP} END
"""


def q_token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to fixed token-budget shards via a
    running total — ``shard = floor(cum_start / budget)`` over a
    deterministic per-language order. This is the batch form of
    packing documents into pretraining context windows. One window
    sort per lang partition; at scale the order key would be a
    precomputed shuffle-once sort key, and packing runs per partition.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = text.token_count_ws("text").cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = F.lit(2048)
    with_cum = docs.select(
        "doc_id", "lang", n_tok.alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return with_cum.select(
        "doc_id",
        "lang",
        "n_tokens",
        "cum_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / budget).alias("shard"),
    )


ORACLE_TOKEN_SHARDS = f"""
WITH toks AS (
  SELECT doc_id, lang, CAST(len({_SQL_TOKENS.format(col='text')}) AS BIGINT) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, lang, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ASC
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM toks
)
SELECT doc_id, lang, n_tokens, cum_tokens,
       CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / 2048) AS BIGINT) AS shard
FROM cum
"""


PIPELINE_QUERIES = {
    "dedup_connected_components": (q_dedup_connected_components, ORACLE_DEDUP_CC),
    "text_pii_redact": (q_text_pii_redact, ORACLE_PII),
    "text_tfidf_topk": (q_text_tfidf_topk, ORACLE_TFIDF),
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_minhash_signatures": (q_dedup_minhash_signatures, ORACLE_MINHASH_SIG),
    "dedup_minhash_pairs": (q_dedup_minhash_pairs, ORACLE_MINHASH_PAIRS),
    "dedup_simhash": (q_dedup_simhash, ORACLE_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, ORACLE_SIMHASH_PAIRS),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, ORACLE_NGRAM_JACCARD),
    "text_quality": (q_text_quality, ORACLE_TEXT_QUALITY),
    "text_langid": (q_text_langid, ORACLE_TEXT_LANGID),
    "text_fingerprint": (q_text_fingerprint, ORACLE_TEXT_FINGERPRINT),
    "ann_brute_force_topk": (q_ann_brute_force_topk, ORACLE_ANN_BRUTE),
    "ann_lsh_topk": (q_ann_lsh_topk, ORACLE_ANN_LSH),
    "ann_ivf_topk": (q_ann_ivf_topk, ORACLE_ANN_IVF),
    "ann_brute_force_topk_np": (q_ann_brute_force_topk_np, ORACLE_ANN_BRUTE_NP),
    "embedding_near_dup": (q_embedding_near_dup, ORACLE_EMB_NEAR_DUP),
    "multimodal_metadata": (q_multimodal_metadata, ORACLE_MULTIMODAL),
    "multimodal_resize": (q_multimodal_resize, ORACLE_MULTIMODAL_RESIZE),
    "multimodal_frame_sample": (q_multimodal_frame_sample, ORACLE_MULTIMODAL_FRAMES),
    "sessionize_events": (q_sessionize_events, _oracle_sessionize()),
    "dedup_keep_first": (q_dedup_keep_first, ORACLE_DEDUP_KEEP_FIRST),
    "text_corpus_stats": (q_text_corpus_stats, ORACLE_CORPUS_STATS),
    "pipeline_end_to_end": (q_pipeline_end_to_end, ORACLE_PIPELINE_E2E),
    "json_props_extract": (q_json_props_extract, ORACLE_JSON_PROPS),
    "knn_label_vote": (q_knn_label_vote, ORACLE_KNN_VOTE),
    "stratified_source_sample": (q_stratified_source_sample, ORACLE_STRATIFIED),
    "decontaminate_ngram": (q_decontaminate_ngram, ORACLE_DECONTAMINATE),
    "text_repetition_ratio": (q_text_repetition_ratio, ORACLE_REPETITION),
    "quantile_outlier_filter": (q_quantile_outlier_filter, ORACLE_QUANTILE_OUTLIER),
    "multimodal_container_roundtrip": (
        q_multimodal_container_roundtrip,
        ORACLE_CONTAINER_ROUNDTRIP,
    ),
    "fuzzy_match_part_names": (q_fuzzy_match_part_names, ORACLE_FUZZY_MATCH),
    "feature_zscore": (q_feature_zscore, ORACLE_ZSCORE),
    "corpus_mix_resample": (q_corpus_mix_resample, ORACLE_CORPUS_MIX),
    "token_budget_shards": (q_token_budget_shards, ORACLE_TOKEN_SHARDS),
    "dedup_incremental_novel": (q_dedup_incremental_novel, ORACLE_INCREMENTAL_NOVEL),
}
