"""Round-5 second wave, part 3: product-quantization ANN.

Completes the ANN scale ladder — brute force (exact), LSH (recall via
bucket collisions), IVF / multi-probe (recall via cluster pruning),
int8 (memory via scalar quantization) — with PQ: memory AND compute
via vector quantization (a 64-dim float vector becomes 8 3-bit codes;
corpus-wide scoring is 8 table lookups), served in the production
two-stage shape: ADC shortlist, exact rerank of the shortlist only.

The codebook is the k-means seed convention the engine already uses
for IVF (centroids = subvectors of vec_id < 8), so every centroid
value is recomputable by the oracle from the table itself — the whole
train→encode→search pipeline is hash-checked, not just the search.
``ann_pq_recall`` measures the shortlist's recall against exact L2
instead of assuming it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.operators import similarity

_PQ_QUERIES = (20, 21, 22, 23, 24)
_PQ_K = 5
_PQ_SHORTLIST = 100

_SQL_L2 = (
    "list_reduce(list_prepend(0.0, list_transform(generate_series(1, len({a})),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (x, y) -> x + y)"
)


_SQL_SELFDOT = (
    "list_reduce(list_prepend(0.0, list_transform({a}, x -> x * x)),"
    " (x, y) -> x + y)"
)
_SQL_DOTP = (
    "list_reduce(list_prepend(0.0, list_transform(generate_series(1, len({a})),"
    " i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
)


def _sql_pq_score(x: str, cv: str) -> str:
    """The oracle twin of `similarity._pq_score_sql`: the rank-surrogate
    ``|c|² − 2·x·c``.  Spark folds |c|² to a Python-float literal and
    the dot over element_at terms; both are sequential left folds over
    the identical doubles, so the scores agree bit-for-bit."""
    return (
        f"({_SQL_SELFDOT.format(a=cv)}"
        f" - 2.0 * {_SQL_DOTP.format(a=x, b=cv)})"
    )


def _sql_pq_shortlist() -> str:
    """Shared CTE chain: seeds → subvectors → codes → ADC shortlist.

    Mirrors `similarity.pq_encode` / `pq_adc_shortlist` exactly: the
    array_position-of-array_min argmin (first index wins ties) equals
    ``row_number ORDER BY score, c``; the fixed-j-order LUT sum equals
    the ordered-list fold; every score is the same left-fold
    expression tree, so doubles agree bit-for-bit.
    """
    m, k = similarity.PQ_SUBSPACES, similarity.PQ_CENTROIDS
    sub = 64 // m
    ids = ", ".join(str(i) for i in _PQ_QUERIES)
    return f"""v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cents AS (
  SELECT u.j, CAST(vec_id AS INTEGER) AS c,
         v[(u.j * {sub} + 1):(u.j * {sub} + {sub})] AS cv
  FROM v, LATERAL unnest(generate_series(0, {m - 1})) u(j)
  WHERE vec_id < {k}
), sv AS (
  SELECT vec_id, u.j, v[(u.j * {sub} + 1):(u.j * {sub} + {sub})] AS s
  FROM v, LATERAL unnest(generate_series(0, {m - 1})) u(j)
), assigned AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT sv.vec_id, sv.j, cents.c,
           row_number() OVER (PARTITION BY sv.vec_id, sv.j
             ORDER BY {_sql_pq_score('sv.s', 'cents.cv')} ASC,
                      cents.c ASC) AS rn
    FROM sv JOIN cents ON sv.j = cents.j
  ) WHERE rn = 1
), qsv AS (
  SELECT vec_id AS query_id, j, s AS qs FROM sv WHERE vec_id IN ({ids})
), adc AS (
  SELECT q.query_id, a.vec_id AS neighbor_id, a.j,
         {_sql_pq_score('q.qs', 'c.cv')} AS score
  FROM assigned a
  JOIN cents c ON a.j = c.j AND a.code = c.c
  JOIN qsv q ON q.j = a.j
  WHERE a.vec_id <> q.query_id
), approx AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_prepend(0.0, list(score ORDER BY j)),
                     (x, y) -> x + y) AS adc_score
  FROM adc GROUP BY query_id, neighbor_id
), shortlist AS (
  SELECT query_id, neighbor_id, adc_score, sl_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adc_score ASC, neighbor_id ASC) AS sl_rank
    FROM approx
  ) WHERE sl_rank <= {_PQ_SHORTLIST}
)"""


def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ search: corpus encoded to 8x3-bit codes (map-only,
    zero-exchange — plan-asserted), ADC shortlist of 100 via broadcast
    per-query lookup tables, exact-L2 rerank of the shortlist only.

    At 100 TB the corpus-wide stage reads CODES (a ~32x byte shrink
    over float32 vectors) and full vectors are fetched for just
    |Q| x 100 id-keyed rows — which is the whole point of PQ serving.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_search_topk(
        emb, query_ids=_PQ_QUERIES, k=_PQ_K, shortlist=_PQ_SHORTLIST
    )


def _oracle_pq_topk() -> str:
    return f"""
WITH {_sql_pq_shortlist()}
, rer AS (
  SELECT s.query_id, s.neighbor_id,
         {_SQL_L2.format(a='qv.v', b='nv.v')} AS exact_d2
  FROM shortlist s
  JOIN v qv ON qv.vec_id = s.query_id
  JOIN v nv ON nv.vec_id = s.neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY exact_d2 ASC, neighbor_id ASC) AS rank
  FROM rer
)
SELECT query_id, neighbor_id, round(exact_d2, 6) AS exact_d2,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_PQ_K}
"""


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ two-stage search against exact L2 ground
    truth — integer hit counts per query (the quantization residual
    made measurable, the honesty check every lossy index ships with).

    Because the rerank stage is exact, misses come only from shortlist
    escapes; this query IS the dial for the shortlist size. Integer-
    only output, so the hash check is trivially stable.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    approx = similarity.pq_search_topk(
        emb, query_ids=_PQ_QUERIES, k=_PQ_K, shortlist=_PQ_SHORTLIST
    ).select("query_id", "neighbor_id")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qv = v.where(F.col("vec_id").isin(list(_PQ_QUERIES))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    d2 = similarity.l2sq(F.col("qv"), F.col("v"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        v.crossJoin(F.broadcast(qv))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _PQ_K)
        .select("query_id", "neighbor_id")
    )
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        qv.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.lit(_PQ_K).alias("k"),
        )
    )


def _oracle_pq_recall() -> str:
    ids = ", ".join(str(i) for i in _PQ_QUERIES)
    return f"""
WITH {_sql_pq_shortlist()}
, rer AS (
  SELECT s.query_id, s.neighbor_id,
         {_SQL_L2.format(a='qv.v', b='nv.v')} AS exact_d2
  FROM shortlist s
  JOIN v qv ON qv.vec_id = s.query_id
  JOIN v nv ON nv.vec_id = s.neighbor_id
), pq AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY exact_d2 ASC, neighbor_id ASC) AS rank
    FROM rer
  ) WHERE rank <= {_PQ_K}
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qv.vec_id AS query_id, nv.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY qv.vec_id
             ORDER BY {_SQL_L2.format(a='qv.v', b='nv.v')} ASC,
                      nv.vec_id ASC) AS rank
    FROM v qv, v nv
    WHERE qv.vec_id IN ({ids}) AND nv.vec_id <> qv.vec_id
  ) WHERE rank <= {_PQ_K}
)
SELECT q.query_id,
       CAST(coalesce((SELECT count(*) FROM pq
                      JOIN truth ON pq.query_id = truth.query_id
                                AND pq.neighbor_id = truth.neighbor_id
                      WHERE pq.query_id = q.query_id), 0) AS BIGINT) AS n_hits,
       {_PQ_K} AS k
FROM (SELECT DISTINCT vec_id AS query_id FROM v
      WHERE vec_id IN ({ids})) q
"""


#: dict the registry splices in: name -> (query fn, oracle sql or None)
ROUND5D_QUERIES: dict = {
    "ann_pq_adc_topk": (q_ann_pq_adc_topk, _oracle_pq_topk()),
    "ann_pq_recall": (q_ann_pq_recall, _oracle_pq_recall()),
}


# ---------------------------------------------------------------------------
# SemDeDup-style semantic cluster pruning
# ---------------------------------------------------------------------------

_SEM_THRESHOLD = 0.35


def q_semantic_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup by cluster-then-prune (the SemDeDup recipe):
    k-means-assign every embedding to a coarse cluster, then drop
    vectors that have a higher-priority (lower-id) near-duplicate IN
    THE SAME CLUSTER — per-cluster kept/pruned counts out.

    The clustering IS the blocker: pairwise cosine runs only inside a
    cluster (an equi-join on cluster_id), so the pair fan-out is
    bounded by cluster population — never corpus-quadratic, same
    discipline as the LSH near-dup path but driven by the semantic
    partition a pretraining pipeline already maintains.  The
    assignment frame feeds three branches (both pair sides + the
    summary), so it is scoped-persisted under the caller-released
    cache contract.
    """
    from etl_portofolio_spark.caching import scoped_persist

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = scoped_persist(similarity.ivf_assign(emb))
    a = assigned.select(
        F.col("cluster_id"), F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = assigned.select(
        F.col("cluster_id"), F.col("vec_id").alias("id_b"), F.col("v").alias("vb")
    )
    pruned = (
        a.join(b, ["cluster_id"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(similarity.cosine(F.col("va"), F.col("vb")) >= _SEM_THRESHOLD)
        .select("id_b")
        .distinct()
        .withColumn("is_pruned", F.lit(1))
    )
    return (
        assigned.join(pruned, F.col("vec_id") == F.col("id_b"), "left")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.coalesce("is_pruned", F.lit(0))).alias("n_pruned"),
        )
        .select(
            "cluster_id",
            "n_vectors",
            "n_pruned",
            (F.col("n_vectors") - F.col("n_pruned")).alias("n_kept"),
        )
    )


def _oracle_semantic_prune() -> str:
    from etl_portofolio_spark.plans.pipeline_queries import _sql_cosine

    k = 8
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cents AS (
  SELECT vec_id AS centroid_id, v AS cv FROM v WHERE vec_id < {k}
), assigned AS (
  SELECT vec_id, v, centroid_id AS cluster_id FROM (
    SELECT v.vec_id, v.v, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_sql_cosine('v.v', 'c.cv')} DESC, c.centroid_id ASC) AS rn
    FROM v, cents c
  ) WHERE rn = 1
), pruned AS (
  SELECT DISTINCT b.vec_id AS id_b
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {_sql_cosine('a.v', 'b.v')} >= {_SEM_THRESHOLD}
)
SELECT cluster_id, count(*) AS n_vectors,
       CAST(sum(CASE WHEN id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pruned,
       CAST(count(*) - sum(CASE WHEN id_b IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM assigned LEFT JOIN pruned ON assigned.vec_id = pruned.id_b
GROUP BY cluster_id
"""


ROUND5D_QUERIES["semantic_cluster_prune"] = (
    q_semantic_cluster_prune,
    _oracle_semantic_prune(),
)


# ---------------------------------------------------------------------------
# k-core peeling on the part co-occurrence graph
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 2
_KCORE_MIN_COOC = 2


def q_part_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two peel rounds of the 3-core over the part co-occurrence graph
    — the density-community member of the graph family (PageRank =
    influence, connected components = reachability, triangles = local
    clustering, k-core = global density shells).

    The graph: parts co-ordered in >= 2 distinct orders (the weight
    floor keeps the co-occurrence graph sparse instead of complete —
    the same reason basket-pair mining thresholds). Each peel is one
    degree aggregation + one semi-join edge filter with localCheckpoint
    lineage truncation (`operators/graph.kcore`); the FIXED round count
    makes the plan depth deterministic, which is what lets a CTE-unroll
    oracle check it. The fixpoint variant (rounds=None) is the
    operator's production mode, convergence-tested separately.
    """
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, (a["ok"] == b["ok"]) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= _KCORE_MIN_COOC)
        .select("u", "v")
    )
    from etl_portofolio_spark.operators import graph

    return graph.kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


def _oracle_kcore() -> str:
    peels = []
    prev = "e0"
    for r in range(_KCORE_ROUNDS):
        peels.append(f"""d{r} AS (
  SELECT n, count(*) AS deg FROM (
    SELECT u AS n FROM {prev} UNION ALL SELECT v AS n FROM {prev}
  ) GROUP BY n
), k{r} AS (
  SELECT n FROM d{r} WHERE deg >= {_KCORE_K}
), e{r + 1} AS (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT n FROM k{r}) AND v IN (SELECT n FROM k{r})
)""")
        prev = f"e{r + 1}"
    chain = ",\n".join(peels)
    return f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_KCORE_MIN_COOC}
),
{chain}
SELECT node, count(*) AS degree FROM (
  SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev}
) GROUP BY node
"""


ROUND5D_QUERIES["part_kcore_peel"] = (q_part_kcore_peel, _oracle_kcore())
