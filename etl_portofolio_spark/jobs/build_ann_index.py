"""ANN index build job — clustering + quantization + partitioned
inverted lists as one runnable batch.

The engine-extension deliverable that turns the similarity operators
into a SERVABLE artifact (the reference has no vector surface; this is
the 100 TB-pipeline extension the engine exists for):

1. k-means coarse codebook (``similarity.kmeans_fit`` — driver-held
   k×d centroid metadata, corpus never shuffles for assignment),
2. int8 scalar quantization (``similarity.int8_quantize_codes`` —
   map-only, 4× density; reconstruction within span/510),
3. inverted lists written PARTITIONED BY cluster id — a query probes
   nprobe clusters by reading nprobe directories (partition pruning is
   the index lookup; no service needed, any Spark/DuckDB/parquet
   reader can serve it),
4. a k×d ``centroids`` table for query-side probe selection,
5. idempotent: dynamic partition overwrite per cluster, rerun-safe.

At scale each inverted list is range-clustered by vector id inside its
partition, so point lookups inside a probed cluster skip files too.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_portofolio_spark.caching import release_cached
from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.operators.similarity import (
    int8_quantize_codes,
    kmeans_fit,
)
from etl_portofolio_spark.session import build_session
from etl_portofolio_spark.sinks.writer import write_partitioned


def build_index(
    spark: SparkSession,
    emb: DataFrame,
    target_dir: str,
    k: int = 8,
    iterations: int = 2,
) -> dict[str, int]:
    """Build the index from an embedding frame; returns counts."""
    try:
        assigned = kmeans_fit(emb, k=k, iterations=iterations)
        codes = int8_quantize_codes(emb)
        lists = (
            emb.select("vec_id")
            .join(assigned, "vec_id")
            .join(codes, "vec_id")
            .select("vec_id", "lo", "span", "codes", "cluster_id")
        )
        write_partitioned(lists, f"{target_dir}/lists", "cluster_id")
        centroids = (
            spark.read.parquet(f"{target_dir}/lists")
            .select(
                "cluster_id",
                F.posexplode(
                    F.transform(
                        "codes",
                        lambda c: F.col("lo")
                        + c.cast("double") * F.col("span") / F.lit(255.0),
                    )
                ).alias("dim", "val"),
            )
            .groupBy("cluster_id", "dim")
            .agg((F.sum("val") / F.count(F.lit(1))).alias("mean_val"))
        )
        centroids.write.mode("overwrite").parquet(f"{target_dir}/centroids")
        n_vecs = spark.read.parquet(f"{target_dir}/lists").count()
        n_cents = spark.read.parquet(f"{target_dir}/centroids").count()
    finally:
        release_cached()  # kmeans_fit's scoped corpus persist
    return {"vectors": n_vecs, "centroid_rows": n_cents, "clusters": k}


def probe_index(
    spark: SparkSession,
    target_dir: str,
    query_vec: list[float],
    nprobe: int = 2,
    k: int = 3,
) -> DataFrame:
    """Serve a top-k query from the written index — no service, no
    state: probe selection is a driver-side cosine over the k×d
    centroid table (bounded metadata), and the corpus read is the
    nprobe partition directories ONLY (partition pruning is the
    lookup). Scoring dequantizes the stored int8 codes in-plan and
    ranks by cosine; returns (vec_id, cosine) ordered best-first.
    """
    import math

    cent_rows = spark.read.parquet(f"{target_dir}/centroids").collect()
    by_c: dict[int, dict[int, float]] = {}
    for r in cent_rows:
        by_c.setdefault(int(r["cluster_id"]), {})[int(r["dim"])] = float(
            r["mean_val"]
        )
    qn = math.sqrt(sum(x * x for x in query_vec))

    def cos(c: dict[int, float]) -> float:
        cv = [c[d] for d in sorted(c)]
        cn = math.sqrt(sum(x * x for x in cv))
        num = sum(a * b for a, b in zip(query_vec, cv))
        return num / (qn * cn) if qn and cn else 0.0

    probes = sorted(by_c, key=lambda cid: (-cos(by_c[cid]), cid))[:nprobe]
    lists = spark.read.parquet(f"{target_dir}/lists").where(
        F.col("cluster_id").isin([str(p) for p in probes] + probes)
    )
    recon = F.transform(
        "codes",
        lambda c: F.col("lo") + c.cast("double") * F.col("span") / F.lit(255.0),
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    dot = F.aggregate(
        F.zip_with(recon, q, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform(recon, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return (
        lists.select("vec_id", (dot / (nrm * F.lit(qn))).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def run(
    spark: SparkSession,
    sf_dir: str,
    target_dir: str,
    k: int = 8,
    iterations: int = 2,
) -> dict[str, int]:
    emb = load_table(spark, sf_dir, "embeddings")
    return build_index(spark, emb, target_dir, k=k, iterations=iterations)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source-dir", required=True)
    p.add_argument("--target-dir", required=True)
    p.add_argument("--clusters", type=int, default=8)
    p.add_argument("--iterations", type=int, default=2)
    args = p.parse_args()
    spark = build_session("build-ann-index")
    counts = run(
        spark,
        args.source_dir,
        args.target_dir,
        k=args.clusters,
        iterations=args.iterations,
    )
    print(f"index built: {counts}")


if __name__ == "__main__":
    main()


def build_index_pq(
    spark: SparkSession,
    emb: DataFrame,
    target_dir: str,
    k: int = 8,
    iterations: int = 2,
    pq_m: int = 8,
    pq_k: int = 8,
) -> dict[str, int]:
    """IVF+PQ index build — the canonical billion-scale layout (FAISS
    IVFPQ): coarse k-means clusters for partition-pruned probes, PQ
    codes (m x 3-bit) instead of int8 for ~4x further shrink, plus a
    ``pq_codebook`` table so ANY reader can build query LUTs.

    Same artifact contract as :func:`build_index`: cluster-partitioned
    ``lists``, a ``centroids`` table for probe selection (means of the
    PQ-DECODED vectors — probe selection sees exactly what scoring
    sees), idempotent dynamic-overwrite writes.
    """
    from etl_portofolio_spark.operators.similarity import (
        pq_encode_np,
        pq_seed_codebook,
    )

    try:
        assigned = kmeans_fit(emb, k=k, iterations=iterations)
        cb = pq_seed_codebook(emb, m=pq_m, k=pq_k)
        codes = pq_encode_np(emb, cb)
        lists = emb.select("vec_id").join(assigned, "vec_id").join(codes, "vec_id")
        write_partitioned(lists, f"{target_dir}/lists", "cluster_id")
        cb_rows = [
            (j, c, list(cv))
            for j, cents in enumerate(cb)
            for c, cv in enumerate(cents)
        ]
        cb_df = spark.createDataFrame(
            cb_rows, "j int, c int, cv array<double>"
        )
        cb_df.write.mode("overwrite").parquet(f"{target_dir}/pq_codebook")
        sub = len(cb[0][0])
        # centroid table from DECODED vectors: code_j -> its centroid
        # subvector, exploded to (cluster, dim, val) and averaged
        decoded_dims = None
        lists_r = spark.read.parquet(f"{target_dir}/lists")
        cbl = spark.read.parquet(f"{target_dir}/pq_codebook")
        parts = []
        for j in range(pq_m):
            parts.append(
                lists_r.select(
                    "cluster_id", F.lit(j).alias("j"), F.col(f"code_{j}").alias("c")
                )
            )
        stacked = parts[0]
        for p in parts[1:]:
            stacked = stacked.unionAll(p)
        decoded_dims = (
            stacked.join(F.broadcast(cbl), ["j", "c"])
            .select(
                "cluster_id",
                "j",
                F.posexplode("cv").alias("pos", "val"),
            )
            .select(
                "cluster_id",
                (F.col("j") * sub + F.col("pos")).alias("dim"),
                "val",
            )
            .groupBy("cluster_id", "dim")
            .agg((F.sum("val") / F.count(F.lit(1))).alias("mean_val"))
        )
        decoded_dims.write.mode("overwrite").parquet(f"{target_dir}/centroids")
        n_vecs = spark.read.parquet(f"{target_dir}/lists").count()
        n_cents = spark.read.parquet(f"{target_dir}/centroids").count()
    finally:
        release_cached()
    return {"vectors": n_vecs, "centroid_rows": n_cents, "clusters": k}


def probe_index_pq(
    spark: SparkSession,
    target_dir: str,
    query_vec: list[float],
    nprobe: int = 2,
    k: int = 3,
) -> DataFrame:
    """Serve a top-k query from the IVF+PQ index: probe selection from
    the centroid table (driver-side, k×d bounded), corpus read pruned
    to nprobe cluster partitions, scoring = the ADC surrogate — m
    lookups into the query's LUT literals, built driver-side from the
    ``pq_codebook`` table. Returns (vec_id, adc_score) best-first
    (ascending surrogate = closest); exact rerank needs original
    vectors, which the PQ artifact intentionally does not store.
    """
    import math

    cent_rows = spark.read.parquet(f"{target_dir}/centroids").collect()
    by_c: dict[int, dict[int, float]] = {}
    for r in cent_rows:
        by_c.setdefault(int(r["cluster_id"]), {})[int(r["dim"])] = float(
            r["mean_val"]
        )
    qn = math.sqrt(sum(x * x for x in query_vec))

    def cos(c: dict[int, float]) -> float:
        cv = [c[d] for d in sorted(c)]
        cn = math.sqrt(sum(x * x for x in cv))
        num = sum(a * b for a, b in zip(query_vec, cv))
        return num / (qn * cn) if qn and cn else 0.0

    probes = sorted(by_c, key=lambda cid: (-cos(by_c[cid]), cid))[:nprobe]
    cb_rows = spark.read.parquet(f"{target_dir}/pq_codebook").collect()
    m = 1 + max(int(r["j"]) for r in cb_rows)
    kk = 1 + max(int(r["c"]) for r in cb_rows)
    cb: list[list[list[float]]] = [[None] * kk for _ in range(m)]  # type: ignore[list-item]
    for r in cb_rows:
        cb[int(r["j"])][int(r["c"])] = [float(x) for x in r["cv"]]
    sub = len(cb[0][0])
    luts = []
    for j in range(m):
        row = []
        for c in range(kk):
            cv = cb[j][c]
            qs = query_vec[j * sub : (j + 1) * sub]
            row.append(
                sum(w * w for w in cv) - 2.0 * sum(a * b for a, b in zip(qs, cv))
            )
        luts.append(row)
    lists = spark.read.parquet(f"{target_dir}/lists").where(
        F.col("cluster_id").isin([str(p) for p in probes] + probes)
    )
    score = None
    for j in range(m):
        lut = F.array(*[F.lit(float(x)) for x in luts[j]])
        term = F.element_at(lut, F.col(f"code_{j}") + 1)
        score = term if score is None else score + term
    return (
        lists.select("vec_id", score.alias("adc_score"))
        .orderBy(F.col("adc_score").asc(), F.col("vec_id").asc())
        .limit(k)
    )
