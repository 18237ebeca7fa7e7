"""Read-side data skipping: zonemap pruning over clustered layouts.

The contract under test is the one that matters at 100 TB: a range
predicate on the cluster column must READ fewer files than the table
holds (pruning happens), and the pruned read must return byte-identical
rows to the unpruned filter (pruning never changes answers).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.sinks.writer import write_range_clustered
from etl_portofolio_spark.sources import skipping
from tests.conftest import SF_DIR, cwd_relative


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("skip") / "events_clustered")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    write_range_clustered(ev, path, "event_id", n_files=8)
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_footer_zonemap_covers_all_files_disjointly(spark, clustered):
    zmap = skipping.footer_zonemap(clustered, "event_id")
    assert len(zmap) == 8
    assert all(rows > 0 for _, _, _, rows in zmap)
    spans = sorted((lo, hi) for _, lo, hi, _ in zmap)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2  # the writer's disjoint-envelope property


def test_skipping_scan_prunes_to_few_files_and_matches_full_filter(
    spark, clustered
):
    ids = spark.read.parquet(clustered).agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    # a narrow range around the low end of the key space
    lo = ids["lo"]
    hi = lo + (ids["hi"] - ids["lo"]) // 20
    pruned = skipping.skipping_scan(spark, clustered, "event_id", lo, hi)
    # proof of pruning: the physical read touches a strict subset of files
    assert 0 < len(pruned.inputFiles()) < 8
    full = spark.read.parquet(clustered).where(
        (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
    )
    assert _rows(pruned) == _rows(full)


def test_point_lookup_reads_one_file(spark, clustered):
    some_id = spark.read.parquet(clustered).agg(F.max("event_id")).first()[0]
    pruned = skipping.skipping_scan(
        spark, clustered, "event_id", some_id, some_id
    )
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() >= 1


def test_open_ended_and_empty_ranges(spark, clustered):
    ids = spark.read.parquet(clustered).agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    # half-open: everything above the midpoint
    mid = (ids["lo"] + ids["hi"]) // 2
    upper = skipping.skipping_scan(spark, clustered, "event_id", lo=mid)
    full = spark.read.parquet(clustered).where(F.col("event_id") >= mid)
    assert upper.count() == full.count()
    assert len(upper.inputFiles()) < 8
    # impossible range: zero files, empty frame, schema intact
    nothing = skipping.skipping_scan(
        spark, clustered, "event_id", ids["hi"] + 1000, ids["hi"] + 2000
    )
    assert nothing.count() == 0
    assert nothing.columns == ["event_id", "user_id", "value"]


def test_unclustered_layout_degrades_gracefully(spark, tmp_path):
    """On an unsorted layout pruning keeps everything (envelopes all
    overlap) — skipping may be useless, never wrong."""
    path = str(tmp_path / "unclustered")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    ev.repartition(4).write.parquet(path)  # hash layout: overlapping ranges
    ids = ev.agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi")).first()
    mid = (ids["lo"] + ids["hi"]) // 2
    pruned = skipping.skipping_scan(spark, path, "event_id", ids["lo"], mid)
    full = ev.where((F.col("event_id") >= ids["lo"]) & (F.col("event_id") <= mid))
    assert pruned.count() == full.count()


def test_prune_files_keeps_stat_less_files():
    zmap = [("a", 0, 10, 5), ("b", None, None, 7), ("c", 20, 30, 5)]
    assert skipping.prune_files(zmap, 12, 18) == ["b"]
    assert skipping.prune_files(zmap, None, 5) == ["a", "b"]
    assert skipping.prune_files(zmap, 25, None) == ["b", "c"]


def test_persisted_zonemap_roundtrip_and_pruning(spark, tmp_path):
    path = str(tmp_path / "tbl")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    write_range_clustered(ev, path, "event_id", n_files=6)
    _kept, n, _dropped = skipping.refresh_zonemap(path, "event_id")
    assert n == 6
    zmap = skipping.load_zonemap(path, "event_id")
    assert zmap is not None and len(zmap) == 6
    # scanning with the persisted map matches the footer-stat scan
    ids = spark.read.parquet(path).agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    mid = (ids["lo"] + ids["hi"]) // 2
    via_map = skipping.skipping_scan(
        spark, path, "event_id", ids["lo"], mid, zonemap=zmap
    )
    via_footer = skipping.skipping_scan(spark, path, "event_id", ids["lo"], mid)
    assert _rows(via_map) == _rows(via_footer)
    assert len(via_map.inputFiles()) < 6
    # the _zonemap artifact dir is invisible to table reads
    assert spark.read.parquet(path).columns == ["event_id", "value"]


def test_stale_zonemap_reconciles_appends_and_rewrites(spark, tmp_path):
    """Files appended after the map refresh always survive pruning;
    files compacted away are dropped from the map — a stale map
    degrades skipping, never correctness."""
    path = str(tmp_path / "tbl")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    write_range_clustered(ev, path, "event_id", n_files=4)
    skipping.refresh_zonemap(path, "event_id")
    # append new rows OUTSIDE the old key range without refreshing
    hi = spark.read.parquet(path).agg(F.max("event_id")).first()[0]
    extra = spark.range(hi + 1000, hi + 1010).select(
        F.col("id").alias("event_id"), F.lit(7).cast("long").alias("value")
    )
    extra.coalesce(1).write.mode("append").parquet(path)
    zmap = skipping.load_zonemap(path, "event_id")
    # the unmapped new file has unknown stats => included in any range
    got = skipping.skipping_scan(
        spark, path, "event_id", hi + 1000, hi + 2000, zonemap=zmap
    )
    assert got.count() == 10  # appended rows found despite stale map


def _assert_map_prunes(spark, path, n_files):
    """A narrow range through the persisted map reads a strict subset of
    the files and returns exactly the plain filter's rows."""
    ids = spark.read.parquet(path).agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    lo, hi = ids["lo"], ids["lo"] + (ids["hi"] - ids["lo"]) // 8
    got = skipping.skipping_scan(
        spark, path, "event_id", lo, hi,
        zonemap=skipping.load_zonemap(path, "event_id"),
    )
    assert 0 < len(got.inputFiles()) < n_files
    full = spark.read.parquet(path).where(
        (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
    )
    assert _rows(got) == _rows(full)


def test_persisted_zonemap_prunes_under_relative_path(spark, tmp_path):
    path = cwd_relative(spark, str(tmp_path / "tbl"))
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    write_range_clustered(ev, path, "event_id", n_files=4)
    skipping.refresh_zonemap(path, "event_id")
    _assert_map_prunes(spark, path, 4)


def test_persisted_zonemap_survives_table_rename(spark, tmp_path):
    """Fixtures publish by renaming a build directory: the map must
    still name the files at the new location."""
    built = str(tmp_path / "building")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    write_range_clustered(ev, built, "event_id", n_files=4)
    skipping.refresh_zonemap(built, "event_id")
    path = str(tmp_path / "published")
    os.rename(built, path)
    _assert_map_prunes(spark, path, 4)


def test_refresh_replaces_absolute_path_map(spark, tmp_path):
    """A map from the older layout (Spark part files keyed by absolute
    URIs) reconciles to unknown stats; the next refresh drops its
    entries and leaves only the one map file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "tbl")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    write_range_clustered(ev, path, "event_id", n_files=4)
    old = os.path.join(path, "_zonemap", "event_id")
    os.makedirs(old)
    pq.write_table(
        pa.table({
            "file": ["file://" + f for f, *_ in skipping.footer_zonemap(path, "event_id")],
            "zmin": [0] * 4, "zmax": [0] * 4, "n_rows": [1] * 4,
        }),
        os.path.join(old, "part-00000.snappy.parquet"),
    )
    open(os.path.join(old, "_SUCCESS"), "w").close()
    assert all(lo is None for _, lo, _, _ in skipping.load_zonemap(path, "event_id"))
    assert skipping.refresh_zonemap(path, "event_id") == (0, 4, 4)
    assert os.listdir(old) == ["zonemap.parquet"]
    _assert_map_prunes(spark, path, 4)


def test_file_index_runs_no_spark_jobs(spark, tmp_path):
    """Sidecars are driver metadata: refreshing and loading the zonemap
    and loading the Bloom sidecar run no Spark job."""
    from etl_portofolio_spark.sources import bloomindex

    path = str(tmp_path / "tbl")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    write_range_clustered(ev, path, "event_id", n_files=4)
    bloomindex.build_bloom_index(spark, path, "event_id")
    sc = spark.sparkContext
    sc.setJobGroup("file_index", "file index metadata reads")
    try:
        assert skipping.refresh_zonemap(path, "event_id") == (0, 4, 0)
        assert skipping.refresh_zonemap(path, "event_id") == (4, 0, 0)
        assert len(skipping.load_zonemap(path, "event_id")) == 4
        assert len(bloomindex._load_sidecar(path, "event_id")) == 4
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("file_index")) == []


def test_maintenance_refreshes_zonemap_after_compaction(spark, tmp_path):
    """The nightly loop leaves a map that matches the compacted layout."""
    from etl_portofolio_spark.jobs.maintain_tables import run_maintenance

    path = str(tmp_path / "tbl")
    # many tiny interleaved appends into one partition
    for i in range(5):
        spark.createDataFrame(
            [((j * 5 + i) % 50, "20240101") for j in range(8)],
            "k long, ds string",
        ).coalesce(1).write.partitionBy("ds").mode("append").parquet(path)
    summary = run_maintenance(
        spark,
        path,
        partition_col="ds",
        max_files_per_partition=2,
        target_file_bytes=400,
        sort_cols=("k",),
        zonemap_col="k",
    )
    assert summary["compacted"]  # the fat partition was rewritten
    zmap = skipping.load_zonemap(path, "k")
    assert zmap is not None
    # the refreshed map covers exactly the live files (no stale entries)
    live = set(spark.read.parquet(path).inputFiles())
    assert {("file://" + f) for f, *_ in zmap} == live
    # and every mapped file carries usable stats
    assert all(lo is not None for _, lo, _, _ in zmap)


def test_zorder_clustering_prunes_both_dimensions(spark, tmp_path):
    """Z-order layout: BOTH columns' per-file envelopes shrink below
    the global span, so skipping prunes range predicates on either
    column — the property a 1-D range cluster can only give one column."""
    from etl_portofolio_spark.sinks.writer import (
        write_range_clustered,
        write_zorder_clustered,
    )

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    zpath = str(tmp_path / "z")
    rpath = str(tmp_path / "r")
    write_zorder_clustered(ev, zpath, "event_id", "user_id", n_files=16)
    write_range_clustered(ev, rpath, "event_id", n_files=16)
    assert spark.read.parquet(zpath).count() == ev.count()

    def mean_span(path, col):
        zmap = skipping.footer_zonemap(path, col)
        return sum(hi - lo for _, lo, hi, _ in zmap) / len(zmap)

    bounds = ev.agg(
        F.max("event_id").alias("eh"), F.min("event_id").alias("el"),
        F.max("user_id").alias("uh"), F.min("user_id").alias("ul"),
    ).first()
    e_span, u_span = bounds["eh"] - bounds["el"], bounds["uh"] - bounds["ul"]
    # z-order: both dimensions meaningfully narrower than the global span
    assert mean_span(zpath, "event_id") < 0.6 * e_span
    assert mean_span(zpath, "user_id") < 0.6 * u_span
    # 1-D range cluster: event_id razor-thin, user_id unhelped (~full span)
    assert mean_span(rpath, "event_id") < 0.1 * e_span
    assert mean_span(rpath, "user_id") > 0.9 * u_span

    # and pruning actually fires on BOTH columns of the z layout
    for col, lo, hi in (
        ("event_id", bounds["el"], bounds["el"] + e_span // 8),
        ("user_id", bounds["ul"], bounds["ul"] + max(u_span // 8, 1)),
    ):
        pruned = skipping.skipping_scan(spark, zpath, col, lo, hi)
        assert 0 < len(pruned.inputFiles()) < 16, col
        full = spark.read.parquet(zpath).where(
            (F.col(col) >= lo) & (F.col(col) <= hi)
        )
        assert pruned.count() == full.count()


def test_incremental_zonemap_refresh(spark, tmp_path):
    """Appends footer-read only the new files; compacted-away entries
    drop; the refreshed map equals a from-scratch footer build."""
    path = str(tmp_path / "tbl")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    write_range_clustered(ev, path, "event_id", n_files=4)
    kept, added, dropped = skipping.refresh_zonemap(path, "event_id")
    assert (kept, added, dropped) == (0, 4, 0)  # first call = full build
    # append two new files
    hi = spark.read.parquet(path).agg(F.max("event_id")).first()[0]
    for k in range(2):
        spark.range(hi + 1000 + k * 10, hi + 1005 + k * 10).select(
            F.col("id").alias("event_id"), F.lit(1).cast("long").alias("value")
        ).coalesce(1).write.mode("append").parquet(path)
    kept, added, dropped = skipping.refresh_zonemap(path, "event_id")
    assert (kept, added, dropped) == (4, 2, 0)
    zmap = {f: (lo, hi2, n) for f, lo, hi2, n in
            skipping.load_zonemap(path, "event_id")}
    footer = {f: (lo, hi2, n) for f, lo, hi2, n in
              skipping.footer_zonemap(path, "event_id")}
    assert zmap == footer  # incrementally-built map == from-scratch map
    # point lookup into an appended file prunes to exactly that file
    got = skipping.skipping_scan(
        spark, path, "event_id", hi + 1000, hi + 1000,
        zonemap=skipping.load_zonemap(path, "event_id"),
    )
    assert len(got.inputFiles()) == 1 and got.count() == 1


def test_zonemap_on_string_column(spark, tmp_path):
    """Envelope pruning works for lexicographic string ranges too —
    footer stats for BYTE_ARRAY columns decode to comparable strings."""
    path = str(tmp_path / "s")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    from etl_portofolio_spark.sinks.writer import write_range_clustered

    write_range_clustered(docs, path, "source", n_files=4)
    zmap = skipping.footer_zonemap(path, "source")
    assert all(isinstance(lo, str) for _, lo, _, _ in zmap)
    some = sorted({r["source"] for r in docs.limit(50).collect()})[0]
    got = skipping.skipping_scan(spark, path, "source", some, some)
    assert 0 < len(got.inputFiles()) < 4
    full = spark.read.parquet(path).where(F.col("source") == some)
    assert got.count() == full.count() > 0


def test_skipping_scan_partitioned_layout_keeps_partition_columns(
    spark, tmp_path
):
    """ADVICE r5: a pruned read of a partitioned layout must keep the
    Hive partition columns (basePath), and both the pruned and the
    empty-prune branches must return the SAME schema."""
    path = str(tmp_path / "ptbl")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    ev.withColumn("ds", (F.col("event_id") % 2).cast("string")).write.partitionBy(
        "ds"
    ).parquet(path)
    ids = spark.read.parquet(path).agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    pruned = skipping.skipping_scan(
        spark, path, "event_id", ids["lo"], ids["lo"]
    )
    empty = skipping.skipping_scan(
        spark, path, "event_id", ids["hi"] + 1000, ids["hi"] + 2000
    )
    assert set(pruned.columns) == set(empty.columns) == {
        "event_id", "user_id", "ds"
    }
    assert pruned.count() >= 1 and empty.count() == 0
    # partition-column VALUES survive the pruned read
    assert all(r["ds"] in ("0", "1") for r in pruned.collect())


def test_footer_zonemap_degrades_on_missing_column(spark, tmp_path):
    """A vintage written before the column existed (or a Hive partition
    column, which never reaches the footer) must degrade that file to
    unknown stats — not abort the build (ADVICE r5)."""
    path = str(tmp_path / "vintages")
    spark.createDataFrame([(1,)], "k long").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame([(2, 10)], "k long, v long").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    zmap = skipping.footer_zonemap(path, "v")
    assert len(zmap) == 2
    stats = {lo for _, lo, _, _ in zmap}
    assert None in stats and 10 in stats  # old file unknown, new file mapped
    # incremental refresh over the same layout also survives
    kept, added, dropped = skipping.refresh_zonemap(path, "v")
    assert added == 2 and dropped == 0


# ---------------------------------------------------------------------------
# Z-order clustering: conjunctive 2-D pruning
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def zorder_paths(spark, tmp_path_factory):
    """The same events projection written three ways: z-ordered on
    (user_id, value), range-clustered on user_id only, and the box
    predicate bounds shared by every assertion."""
    from etl_portofolio_spark.sinks.writer import write_zorder_clustered

    root = tmp_path_factory.mktemp("zorder")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    zpath = str(root / "ev_z")
    rpath = str(root / "ev_r")
    write_zorder_clustered(ev, zpath, "user_id", "value", n_files=16)
    write_range_clustered(ev, rpath, "user_id", n_files=16)
    b = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min("value").alias("vlo"),
        F.max("value").alias("vhi"),
    ).first()
    us, vs = b["uhi"] - b["ulo"], b["vhi"] - b["vlo"]
    preds = [
        ("user_id", b["ulo"] + us // 4, b["ulo"] + us // 4 + us // 8),
        ("value", b["vlo"] + vs * 0.25, b["vlo"] + vs * 0.25 + vs * 0.125),
    ]
    return zpath, rpath, preds


def test_zorder_2d_prune_matches_plain_filter(spark, zorder_paths):
    zpath, _, preds = zorder_paths
    pruned = skipping.skipping_scan_multi(spark, zpath, preds)
    full = spark.read.parquet(zpath)
    for col, lo, hi in preds:
        full = full.where(F.col(col) >= lo).where(F.col(col) <= hi)
    assert _rows(pruned) == _rows(full)
    assert pruned.schema == full.schema


def test_zorder_empty_box_returns_schema_stable_empty(spark, zorder_paths):
    zpath, _, _ = zorder_paths
    out = skipping.skipping_scan_multi(
        spark, zpath, [("user_id", 10**15, 2 * 10**15)]
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["event_id", "user_id", "value"]
