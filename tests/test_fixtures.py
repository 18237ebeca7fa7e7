"""Content-keyed fixture cache: staleness, atomicity, and the WAP/MV
freshness audits (VERDICT r6 #2/#5).

The r6 driver reds exposed the hazard class: a /tmp cache keyed only by
the sf_dir PATH serves stale derived state after the source tables are
regenerated.  These tests prove the three defenses: (a) regenerating a
source changes the fixture path (forcing a rebuild), (b) builds publish
atomically and incomplete dirs are rebuilt rather than served, and
(c) the WAP snapshot / MV queries raise loudly on tampered stores
instead of returning drifted answers.
"""

from __future__ import annotations

import os
import shutil

import pytest

from etl_portofolio_spark.fixtures import (
    ensure_fixture,
    fixture_dir,
    source_fingerprint,
)
from tests.conftest import SF_DIR


@pytest.fixture()
def sf_copy(tmp_path, monkeypatch):
    """A private, mutable copy of the sf tables (sf0.001), with a private
    fixture cache: the copy's path and mtimes repeat across pytest runs
    (``pytest-of-<user>/pytest-<n>`` is reused), so a shared /tmp cache
    would serve an earlier run's entries under the same key."""
    from etl_portofolio_spark import fixtures

    monkeypatch.setattr(fixtures, "_ROOT", str(tmp_path / "fixtures"))
    d = tmp_path / "sfcopy"
    d.mkdir()
    for t in ("orders", "lineitem", "events"):
        shutil.copy2(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def _touch_source(sf_dir: str) -> None:
    """Simulate testdata regeneration: same name, new mtime/size."""
    p = os.path.join(sf_dir, "orders.parquet")
    with open(p, "ab") as fh:
        fh.write(b"\0")  # size change; parquet readers use the footer offset
    os.utime(p)


def test_fingerprint_tracks_source_content(sf_copy):
    fp1 = source_fingerprint(sf_copy)
    path1 = fixture_dir(sf_copy, "x")
    _touch_source(sf_copy)
    fp2 = source_fingerprint(sf_copy)
    assert fp1 != fp2
    assert fixture_dir(sf_copy, "x") != path1  # stale cache unaddressable


def test_ensure_fixture_builds_once_then_serves_cache(sf_copy):
    calls: list[str] = []

    def build(tmp: str) -> None:
        calls.append(tmp)
        with open(os.path.join(tmp, "_SUCCESS"), "w") as fh:
            fh.write("")

    p1 = ensure_fixture(sf_copy, "demo", build)
    assert os.path.exists(os.path.join(p1, "_SUCCESS"))
    assert len(calls) == 1
    assert "tmpbuild-" not in p1 and not os.path.basename(p1).startswith(".")
    # cached: the build must NOT run again
    p2 = ensure_fixture(sf_copy, "demo", build)
    assert p2 == p1 and len(calls) == 1
    # no leftover temp dirs from the build
    assert not [
        d for d in os.listdir(os.path.dirname(p1)) if d.startswith("tmpbuild-")
    ]


def test_ensure_fixture_rebuilds_incomplete_dir(sf_copy):
    path = fixture_dir(sf_copy, "partial")
    os.makedirs(path)  # a crashed build: dir exists, no _SUCCESS
    with open(os.path.join(path, "garbage.parquet"), "w") as fh:
        fh.write("not parquet")

    def build(tmp: str) -> None:
        with open(os.path.join(tmp, "data.txt"), "w") as fh:
            fh.write("real")
        with open(os.path.join(tmp, "_SUCCESS"), "w") as fh:
            fh.write("")

    p = ensure_fixture(sf_copy, "partial", build)
    assert os.path.exists(os.path.join(p, "_SUCCESS"))
    assert not os.path.exists(os.path.join(p, "garbage.parquet"))


def test_ensure_fixture_rejects_build_that_stays_incomplete(sf_copy):
    def bad_build(tmp: str) -> None:
        with open(os.path.join(tmp, "half.txt"), "w") as fh:
            fh.write("partial state, no _SUCCESS")

    with pytest.raises(RuntimeError, match="incomplete"):
        ensure_fixture(sf_copy, "bad", bad_build)
    # the failed build published NOTHING
    assert not os.path.exists(fixture_dir(sf_copy, "bad"))


def test_source_regeneration_forces_rebuild_and_sweeps_stale(sf_copy):
    calls: list[str] = []

    def build(tmp: str) -> None:
        calls.append(tmp)
        with open(os.path.join(tmp, "_SUCCESS"), "w") as fh:
            fh.write("")

    p1 = ensure_fixture(sf_copy, "swept", build)
    _touch_source(sf_copy)
    p2 = ensure_fixture(sf_copy, "swept", build)
    assert p1 != p2 and len(calls) == 2
    assert not os.path.exists(p1)  # stale sibling swept


def test_wap_query_raises_on_tampered_snapshot(spark, sf_copy):
    from pyspark.sql import functions as F

    from etl_portofolio_spark.plans.round6_queries import (
        q_wap_time_travel_delta,
    )
    from etl_portofolio_spark.sinks.writer import (
        read_snapshot,
        snapshot_versions,
    )

    q_wap_time_travel_delta(spark, sf_copy).collect()  # builds the store
    root = fixture_dir(sf_copy, "wap_orders")
    versions = snapshot_versions(spark, root)
    live = read_snapshot(spark, root).withColumn(
        "revenue_cents", F.col("revenue_cents") + F.lit(1)
    )
    # tamper the LIVE version's data in place (pointer untouched)
    vdir = os.path.join(root, f"v={versions[-1]}")
    tampered = live.collect()
    shutil.rmtree(vdir)
    spark.createDataFrame(
        tampered, "month string, revenue_cents long"
    ).write.parquet(vdir)
    with pytest.raises(AssertionError, match="stale"):
        q_wap_time_travel_delta(spark, sf_copy).collect()


def test_mv_query_raises_on_tampered_mv(spark, sf_copy):
    from etl_portofolio_spark.plans.round6_queries import q_mv_rollup_rewrite
    from etl_portofolio_spark.sinks.matview import load_mv_meta

    q_mv_rollup_rewrite(spark, sf_copy).collect()  # builds the MV
    path = fixture_dir(sf_copy, "mv_lineitem")
    assert load_mv_meta(path) is not None
    # tamper the MV data in place: +1 on one group's row tally — the
    # classic silent-drift failure a row-count/schema check can't see
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    data_files = [
        f for f in os.listdir(path) if f.startswith("part-")
    ]
    assert data_files, f"no MV data files found under {path}"
    fpath = os.path.join(path, data_files[0])
    t = pq.read_table(fpath)
    bumped = pc.add(t.column("n_rows"), 1)
    t = t.set_column(t.schema.get_field_index("n_rows"), "n_rows", bumped)
    crc = os.path.join(path, f".{data_files[0]}.crc")
    if os.path.exists(crc):  # stale checksum would fail the read first
        os.remove(crc)
    pq.write_table(t, fpath)
    spark.catalog.clearCache()
    with pytest.raises(AssertionError, match="stale"):
        q_mv_rollup_rewrite(spark, sf_copy).collect()
