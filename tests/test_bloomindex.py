"""File-level Bloom index: pruning fires on unclustered layouts,
never drops the needle's file, reconciles appends, degrades to a full
scan without an index."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.sources import bloomindex
from tests.conftest import SF_DIR, cwd_relative


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_build_probe_and_prune(spark, tmp_path):
    path = str(tmp_path / "hashed")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    ev.repartition(8).write.parquet(path)
    n = bloomindex.build_bloom_index(spark, path, "event_id")
    assert n == 8
    needle = ev.agg(F.max("event_id")).first()[0]
    got = bloomindex.bloom_point_lookup(spark, path, "event_id", needle)
    assert 0 < len(got.inputFiles()) < 8  # pruning fired
    full = spark.read.parquet(path).where(F.col("event_id") == needle)
    assert _rows(got) == _rows(full)
    assert got.count() >= 1


def test_lookup_prunes_under_relative_path(spark, tmp_path):
    path = cwd_relative(spark, str(tmp_path / "hashed"))
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    ev.repartition(4).write.parquet(path)
    bloomindex.build_bloom_index(spark, path, "event_id")
    needle = ev.agg(F.max("event_id")).first()[0]
    got = bloomindex.bloom_point_lookup(spark, path, "event_id", needle)
    assert 0 < len(got.inputFiles()) < 4
    full = spark.read.parquet(path).where(F.col("event_id") == needle)
    assert _rows(got) == _rows(full)


def test_no_false_negatives_over_sample(spark, tmp_path):
    """Every sampled present value must survive pruning AND return its
    rows — the Bloom contract (false positives allowed, negatives not)."""
    path = str(tmp_path / "hashed")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    ev.repartition(4).write.parquet(path)
    bloomindex.build_bloom_index(spark, path, "event_id")
    side = bloomindex._load_sidecar(path, "event_id")
    sample = [r["event_id"] for r in ev.limit(25).collect()]
    full = {
        r["event_id"]
        for r in spark.read.parquet(path).select("event_id").collect()
    }
    for v in sample:
        assert v in full
        got = bloomindex.bloom_point_lookup(
            spark, path, "event_id", v, sidecar=side
        )
        assert got.count() >= 1, v


def test_absent_value_reads_zero_or_fp_files(spark, tmp_path):
    path = str(tmp_path / "hashed")
    ev = load_table(spark, SF_DIR, "events").select("event_id")
    ev.repartition(8).write.parquet(path)
    bloomindex.build_bloom_index(spark, path, "event_id")
    hi = ev.agg(F.max("event_id")).first()[0]
    got = bloomindex.bloom_point_lookup(spark, path, "event_id", hi + 987654)
    assert got.count() == 0
    # overwhelmingly likely all 8 bloom tests reject (fpp ~1% each)
    assert len(got.inputFiles()) <= 2


def test_appended_files_always_survive(spark, tmp_path):
    """Files written after the index build are unindexed => never
    pruned — stale index degrades, correctness doesn't."""
    path = str(tmp_path / "hashed")
    ev = load_table(spark, SF_DIR, "events").select("event_id")
    ev.repartition(4).write.parquet(path)
    bloomindex.build_bloom_index(spark, path, "event_id")
    hi = ev.agg(F.max("event_id")).first()[0]
    spark.createDataFrame([(hi + 1000,)], "event_id long").coalesce(
        1
    ).write.mode("append").parquet(path)
    got = bloomindex.bloom_point_lookup(spark, path, "event_id", hi + 1000)
    assert got.count() == 1  # found despite the stale sidecar


def test_missing_index_falls_back_to_full_scan(spark, tmp_path):
    path = str(tmp_path / "plain")
    ev = load_table(spark, SF_DIR, "events").select("event_id")
    ev.repartition(3).write.parquet(path)
    needle = ev.agg(F.min("event_id")).first()[0]
    got = bloomindex.bloom_point_lookup(spark, path, "event_id", needle)
    assert got.count() >= 1
    # the _bloom sidecar dir is invisible to normal table reads
    bloomindex.build_bloom_index(spark, path, "event_id")
    assert spark.read.parquet(path).columns == ["event_id"]
