"""Corpus curation job — the LLM-training-data pipeline composed
end-to-end as one runnable batch.

Not a reference-parity script (the reference has no corpus surface);
this is the engine-extension deliverable that strings the pipeline
operators together the way a pretraining data job runs them:

1. exact dedup with quality-elected survivors (longest raw text wins,
   ``operators/dedup`` + the ``dedup_keep_best`` election),
2. optional near-dup absorption (``--near-dup``): MinHash-LSH pairs →
   connected components → keep the quality-elected canonical per
   cluster (the ``dedup_cluster_manifest`` election applied as a
   filter — exact dedup can't see a doc quoted whole inside a longer
   one; containment/Jaccard near-dup clustering can),
3. quality-funnel gate (``operators/text.quality_funnel_verdict``),
4. content-addressed train/val/test split (stable under corpus
   growth — same rule as ``dataset_split_manifest``),
5. overlapping chunk manifest for the embedding/packing stage
   (``operators/text.chunk_manifest``),
6. idempotent partitioned writes: docs by (split, lang), chunks by
   split (dynamic partition overwrite — reruns replace, never
   duplicate).

Every stage is a DataFrame composition off ONE scan of the input
(Catalyst shares nothing across actions, but each output is written
once; the dedup election and the gate fuse into the same shuffle
stage). At 100 TB the writes are the cost and each is proportional to
its output, not the corpus.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_portofolio_spark.caching import release_cached
from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.functions.hashing import h32
from etl_portofolio_spark.operators import text
from etl_portofolio_spark.operators.dedup import (
    connected_components,
    minhash_candidate_pairs,
    normalized_text,
)
from etl_portofolio_spark.session import build_session
from etl_portofolio_spark.sinks.writer import (
    publish_snapshot,
    write_partitioned,
)

_SPLIT_SALT = "split:"


def curated_docs(docs: DataFrame) -> DataFrame:
    """Dedup-elect + quality-gate + split-assign in one composition."""
    hashed = docs.withColumn("content_hash", F.md5(normalized_text("text")))
    w = Window.partitionBy("content_hash").orderBy(
        F.length("text").desc(), F.col("doc_id").asc()
    )
    survivors = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    gated = survivors.withColumn(
        "verdict", text.quality_funnel_verdict(F.col("text"))
    ).where(F.col("verdict") == "pass")
    bucket = h32(F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string"))) % 1000
    split = (
        F.when(bucket < 900, "train").when(bucket < 950, "val").otherwise("test")
    )
    return gated.select(
        "doc_id", "text", "lang", "source", "content_hash", split.alias("split")
    )


def absorb_near_dups(docs: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Keep one quality-elected canonical per near-dup cluster.

    MinHash-LSH candidate pairs (bucketed equi-join, never all-pairs) →
    connected components (min-label fixpoint, raises if unconverged) →
    longest-text / lowest-id election inside each component. Docs in no
    cluster are their own singleton (left join + coalesce), so the
    output is a filter of the input — columns pass through untouched.
    """
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", threshold=threshold)
    cc = connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("component")
    )
    members = docs.join(cc, "doc_id", "left").withColumn(
        "component", F.coalesce("component", F.col("doc_id"))
    )
    w = Window.partitionBy("component").orderBy(
        F.length("text").desc(), F.col("doc_id").asc()
    )
    return (
        members.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "component")
    )


def run(
    spark: SparkSession,
    sf_dir: str,
    target_dir: str,
    chunk_window: int = 64,
    chunk_stride: int = 48,
    near_dup: bool = False,
    near_dup_threshold: float = 0.7,
    publish: bool = False,
) -> dict[str, int]:
    """Run the full curation and return per-output row counts.

    With ``publish=True`` the outputs go through the write-audit-
    publish protocol instead of in-place dynamic overwrite: each run
    stages a new ``v=<n>`` snapshot under ``docs_snapshots`` /
    ``chunks_snapshots``, audits the staged read-back (non-empty text,
    a legal split value, a content hash on every row; chunk↔doc
    consistency is the chunks' doc_id join by construction), and flips
    the ``_CURRENT`` pointer only when clean — a downstream trainer
    reading ``read_snapshot(...)`` can never observe a half-written
    corpus, and the previous snapshot stays readable as rollback.
    """
    docs = load_table(spark, sf_dir, "documents")
    curated = curated_docs(docs)
    if near_dup:
        curated = absorb_near_dups(curated, threshold=near_dup_threshold)
    curated = curated.persist()
    try:
        n_docs = curated.count()
        chunks = text.chunk_manifest(
            curated, "doc_id", "text", window=chunk_window, stride=chunk_stride
        ).join(curated.select("doc_id", "split"), "doc_id")
        if publish:
            publish_snapshot(
                spark,
                curated,
                f"{target_dir}/docs_snapshots",
                audits={
                    "nonempty_text": F.length("text") > 0,
                    "legal_split": F.col("split").isin("train", "val", "test"),
                    "has_hash": F.length("content_hash") == 32,
                },
                partition_by=("split", "lang"),
            )
            publish_snapshot(
                spark,
                chunks,
                f"{target_dir}/chunks_snapshots",
                audits={"legal_split": F.col("split").isin("train", "val", "test")},
                partition_by=("split",),
            )
            from etl_portofolio_spark.sinks.writer import read_snapshot

            n_chunks = read_snapshot(spark, f"{target_dir}/chunks_snapshots").count()
        else:
            write_partitioned(curated, f"{target_dir}/docs", ["split", "lang"])
            # the chunk count comes out of the write pass itself
            # (df.observe) — no read-back scan of what was just written
            written = write_partitioned(chunks, f"{target_dir}/chunks", "split")
            n_chunks = written["n_rows"]
    finally:
        curated.unpersist()
        release_cached()  # near-dup stage's scoped shingle persist
    return {"docs": n_docs, "chunks": n_chunks}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source-dir", required=True)
    p.add_argument("--target-dir", required=True)
    p.add_argument("--chunk-window", type=int, default=64)
    p.add_argument("--chunk-stride", type=int, default=48)
    p.add_argument(
        "--near-dup",
        action="store_true",
        help="absorb MinHash near-dup clusters into their canonical doc",
    )
    p.add_argument("--near-dup-threshold", type=float, default=0.7)
    p.add_argument(
        "--publish",
        action="store_true",
        help="write-audit-publish versioned snapshots instead of in-place overwrite",
    )
    args = p.parse_args()
    spark = build_session("curate-corpus")
    counts = run(
        spark,
        args.source_dir,
        args.target_dir,
        chunk_window=args.chunk_window,
        chunk_stride=args.chunk_stride,
        near_dup=args.near_dup,
        near_dup_threshold=args.near_dup_threshold,
        publish=args.publish,
    )
    print(f"curated: {counts}")


if __name__ == "__main__":
    main()
