"""Materialized-view rewrite: containment rules, exactness, and the
read-only-the-MV property."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.sinks.matview import (
    RewriteError,
    answer_from_mv,
    create_rollup_mv,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def mv(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mv") / "orders_mv")
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "yr", F.year("o_orderdate").cast("long")
    )
    n = create_rollup_mv(
        spark,
        orders,
        path,
        dims=("o_orderpriority", "yr"),
        measures={
            "rev_c": ("sum", "CAST(round(o_totalprice * 100, 0) AS BIGINT)"),
            "n_orders": ("count", "*"),
            "max_c": ("max", "CAST(round(o_totalprice * 100, 0) AS BIGINT)"),
        },
    )
    assert n > 0
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_coarser_rollup_matches_fact(spark, mv):
    got = answer_from_mv(
        spark, mv, dims=("o_orderpriority",), measures=("rev_c", "n_orders", "max_c")
    )
    fact = (
        load_table(spark, SF_DIR, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).alias(
                "rev_c"
            ),
            F.count(F.lit(1)).alias("n_orders"),
            F.max(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).alias(
                "max_c"
            ),
        )
    )
    assert _rows(got) == _rows(fact)
    # the rewrite never touches the fact table
    assert all("orders_mv" in f for f in got.inputFiles())


def test_global_total_from_mv(spark, mv):
    got = answer_from_mv(spark, mv, dims=(), measures=("rev_c",)).first()
    fact = (
        load_table(spark, SF_DIR, "orders")
        .agg(F.sum(F.expr("CAST(round(o_totalprice*100,0) AS BIGINT)")))
        .first()[0]
    )
    assert got["rev_c"] == fact


def test_containment_violations_raise(spark, mv):
    with pytest.raises(RewriteError, match="not in MV dims"):
        answer_from_mv(spark, mv, dims=("o_orderstatus",), measures=("rev_c",))
    with pytest.raises(RewriteError, match="not stored"):
        answer_from_mv(spark, mv, dims=("yr",), measures=("median_c",))


def test_avg_rejected_at_create(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders")
    with pytest.raises(RewriteError, match="not re-aggregable"):
        create_rollup_mv(
            spark,
            orders,
            str(tmp_path / "bad"),
            dims=("o_orderpriority",),
            measures={"a": ("avg", "o_totalprice")},
        )


def test_streaming_mv_maintenance_matches_batch(spark, tmp_path):
    """availableNow maintenance over two ingest waves: the maintained
    MV equals a from-scratch batch rollup after each wave; compaction
    folds partials without changing answers; a restart with the same
    checkpoint replays nothing (no double counts)."""
    from etl_portofolio_spark.sinks.matview import (
        compact_mv_partials,
        read_maintained_mv,
        start_mv_maintenance,
    )

    src = str(tmp_path / "src")
    mv_root = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    first = orders.limit(700)
    first.coalesce(2).write.mode("append").parquet(src)

    measures = {
        "rev_c": ("sum", "CAST(round(o_totalprice * 100, 0) AS BIGINT)"),
        "n_orders": ("count", "*"),
        "max_c": ("max", "CAST(round(o_totalprice * 100, 0) AS BIGINT)"),
    }

    def run_wave(checkpoint=None):
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).option("maxFilesPerTrigger", "1").parquet(src)
        q = start_mv_maintenance(
            stream, mv_root, ("o_orderpriority",), measures, checkpoint or ckpt
        )
        q.awaitTermination(120)

    def batch_rollup():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(src)
            .groupBy("o_orderpriority")
            .agg(
                F.sum(
                    F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
                ).alias("rev_c"),
                F.count(F.lit(1)).alias("n_orders"),
                F.max(
                    F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
                ).alias("max_c"),
            )
            .collect()
        )

    def mv_rows():
        return sorted(
            tuple(r) for r in read_maintained_mv(spark, mv_root).collect()
        )

    run_wave()
    assert mv_rows() == batch_rollup()
    # restart with the same checkpoint: nothing new -> nothing changes
    run_wave()
    assert mv_rows() == batch_rollup()
    # second ingest wave
    orders.exceptAll(first).limit(500).coalesce(1).write.mode("append").parquet(src)
    run_wave()
    assert mv_rows() == batch_rollup()
    # compaction folds partials, answers invariant
    removed = compact_mv_partials(spark, mv_root)
    assert removed >= 2
    assert mv_rows() == batch_rollup()
    # nothing new to fold -> no-op
    assert compact_mv_partials(spark, mv_root) == 0

    # checkpoint replay AFTER compaction: removing the last commit
    # marker simulates a crash between the batch write and its commit
    # — Spark re-runs that batch on restart; its rows already live in
    # the folded generation, so the sink must drop it (the double-count
    # defect the folded watermark exists to prevent).  Replay runs from
    # a copied checkpoint: Spark 4 flags in-place commit-log edits on a
    # previously-used path as concurrent modification.
    import glob
    import os
    import shutil

    ckpt2 = str(tmp_path / "ckpt_replay")
    shutil.copytree(ckpt, ckpt2)
    commits = [
        c
        for c in sorted(glob.glob(os.path.join(ckpt2, "commits", "*")))
        if not c.endswith(".tmp") and not os.path.basename(c).startswith(".")
    ]
    os.remove(commits[-1])
    # drop the Hadoop checksum sidecar too, or the re-commit's rename
    # trips ChecksumFileSystem and masquerades as concurrent use
    crc = os.path.join(
        os.path.dirname(commits[-1]),
        f".{os.path.basename(commits[-1])}.crc",
    )
    if os.path.exists(crc):
        os.remove(crc)
    run_wave(ckpt2)
    assert mv_rows() == batch_rollup()

    # post-compaction ingest still counts (watermark blocks only <=;
    # duplicate source rows are fine — both sides count them equally)
    orders.limit(300).coalesce(1).write.mode("append").parquet(src)
    run_wave(ckpt2)
    assert mv_rows() == batch_rollup()
    # and a second compaction folds the new partials onto the old gen
    assert compact_mv_partials(spark, mv_root) >= 1
    assert mv_rows() == batch_rollup()


def test_legacy_minus_one_partial_still_counts(spark, tmp_path):
    """A store written by the pre-generation compactor keeps all folded
    rows in partials/batch_id=-1 with no folded_gen/folded_through in
    the meta. The new reader must include that partial (it is excluded
    only once a generation exists), or upgrading silently drops every
    row folded before the upgrade."""
    import json
    import os

    from etl_portofolio_spark.sinks.matview import (
        _META_FILE,
        compact_mv_partials,
        read_maintained_mv,
    )

    mv_root = str(tmp_path / "legacy_mv")
    os.makedirs(mv_root)
    with open(os.path.join(mv_root, _META_FILE), "w") as fh:
        json.dump(
            {"dims": ["k"], "measures": {"n": ["sum", "ignored"]}}, fh
        )
    spark.createDataFrame([("a", 10), ("b", 5)], "k string, n long").write.parquet(
        f"{mv_root}/partials/batch_id=-1"
    )
    spark.createDataFrame([("a", 1)], "k string, n long").write.parquet(
        f"{mv_root}/partials/batch_id=3"
    )
    got = {r["k"]: r["n"] for r in read_maintained_mv(spark, mv_root).collect()}
    assert got == {"a": 11, "b": 5}
    # compaction folds BOTH (legacy -1 included), answers invariant,
    # and the legacy partial is never double-honored afterwards
    assert compact_mv_partials(spark, mv_root) == 2
    got2 = {r["k"]: r["n"] for r in read_maintained_mv(spark, mv_root).collect()}
    assert got2 == {"a": 11, "b": 5}
    assert compact_mv_partials(spark, mv_root) == 0


@pytest.mark.parametrize(
    "dims, want", [(("k",), [("a", 4, 2), ("b", 2, 1)]), ((), [(6, 3)])]
)
def test_empty_micro_batch_writes_no_partial(spark, tmp_path, dims, want):
    """A micro-batch whose rows are all filtered out before the sink
    writes no ``batch_id=`` partial, with or without dims, and the
    maintained MV answers as the non-empty batches alone do."""
    import os

    from etl_portofolio_spark.sinks.matview import (
        read_maintained_mv,
        start_mv_maintenance,
    )

    src = str(tmp_path / "src")
    mv_root = str(tmp_path / "mv")
    # one file per micro-batch: the second holds only filtered-out rows
    spark.createDataFrame([("a", 1), ("b", 2), ("a", 3)], "k string, v long").coalesce(
        1
    ).write.mode("append").parquet(src)
    spark.createDataFrame([("z", 9)], "k string, v long").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .where(F.col("k") != "z")
    )
    q = start_mv_maintenance(
        stream,
        mv_root,
        dims,
        {"s": ("sum", "v"), "n": ("count", "*")},
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    # both micro-batches ran and committed
    commits = os.listdir(str(tmp_path / "ckpt" / "commits"))
    assert {"0", "1"} <= set(commits), commits
    partials = sorted(
        d for d in os.listdir(f"{mv_root}/partials") if d.startswith("batch_id=")
    )
    assert partials == ["batch_id=0"]
    assert _rows(read_maintained_mv(spark, mv_root)) == want
