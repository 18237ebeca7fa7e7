"""Sinks, incremental runner, structured streaming, and sources (§2.1/2.2/2.8)."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.sinks.writer import overwrite_table, write_partitioned
from etl_portofolio_spark.sources.http_xml import (
    build_query_xml,
    read_windows,
    register_xml_api,
)
from etl_portofolio_spark.sources.jdbc import JdbcWindowSource, pushdown_subquery
from etl_portofolio_spark.streaming.incremental import (
    IncrementalRunner,
    latest_partition,
    time_windows,
)
from etl_portofolio_spark.streaming.structured import (
    deduped_stream,
    start_dynamic_overwrite_sink,
    time_bounded_join,
    windowed_counts,
)

from .conftest import SF_DIR


def _events_with_ds(spark):
    ev = load_table(spark, SF_DIR, "events")
    return ev.withColumn("ds", F.date_format("ts", "yyyyMMdd"))


# --- sinks ------------------------------------------------------------------


def test_write_partitioned_is_idempotent(spark, tmp_path):
    """K4: re-writing the same partitions replaces, never duplicates."""
    target = str(tmp_path / "tbl")
    ev = _events_with_ds(spark).limit(500)
    write_partitioned(ev, target)
    first = spark.read.parquet(target).count()
    write_partitioned(ev, target)  # rerun the same batch
    assert spark.read.parquet(target).count() == first == 500


def test_write_partitioned_only_touches_written_partitions(spark, tmp_path):
    """Dynamic overwrite: other days' partitions survive a day's rewrite."""
    target = str(tmp_path / "tbl")
    ev = _events_with_ds(spark)
    days = sorted(r["ds"] for r in ev.select("ds").distinct().collect())
    assert len(days) >= 2
    write_partitioned(ev, target)
    total = spark.read.parquet(target).count()
    day0 = days[0]
    day0_rows = ev.where(F.col("ds") == day0)
    write_partitioned(day0_rows, target)  # rewrite just day0
    assert spark.read.parquet(target).count() == total


def test_overwrite_table_roundtrip(spark, tmp_path):
    target = str(tmp_path / "flat")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    overwrite_table(df, target)
    overwrite_table(df.limit(10), target)
    assert spark.read.parquet(target).count() == 10


# --- incremental runner ------------------------------------------------------


def test_latest_partition_reads_layout(spark, tmp_path):
    target = str(tmp_path / "tbl")
    assert latest_partition(spark, target) is None
    write_partitioned(_events_with_ds(spark), target)
    days = sorted(
        r["ds"] for r in _events_with_ds(spark).select("ds").distinct().collect()
    )
    assert latest_partition(spark, target) == days[-1]


def test_watermark_of_file_uri_target(spark, tmp_path):
    """A ``file://`` URI target keeps its watermark, so a resumed run
    does not restart from its default start."""
    target = str(tmp_path / "tbl")
    write_partitioned(_events_with_ds(spark), target)
    days = sorted(
        r["ds"] for r in _events_with_ds(spark).select("ds").distinct().collect()
    )
    runner = IncrementalRunner(spark, lambda s, e: None, "file://" + target)
    assert runner.watermark() == days[-1]


def test_time_windows_cover_range():
    ws = list(
        time_windows(
            datetime(2024, 1, 1), datetime(2024, 1, 4), timedelta(days=1)
        )
    )
    assert len(ws) == 3
    assert ws[0] == (datetime(2024, 1, 1), datetime(2024, 1, 2))
    assert ws[-1][1] == datetime(2024, 1, 4)


def test_incremental_runner_matches_single_batch(spark, tmp_path):
    """Windowed incremental ingestion == one-shot ingestion, and reruns
    of any window are idempotent."""
    ev = _events_with_ds(spark).persist()
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    start = datetime(lo.year, lo.month, lo.day)
    end = datetime(hi.year, hi.month, hi.day) + timedelta(days=1)

    def source(s: datetime, e: datetime):
        return ev.where((F.col("ts") >= F.lit(s)) & (F.col("ts") < F.lit(e)))

    target = str(tmp_path / "tbl")
    runner = IncrementalRunner(spark, source, target)
    results = runner.run(start, end, timedelta(days=1))
    assert sum(r.rows for r in results) == ev.count()
    total = spark.read.parquet(target).count()
    assert total == ev.count()

    # re-run a middle window: same totals (dynamic overwrite, K4)
    mid = start + timedelta(days=1)
    runner.run_window(mid, mid + timedelta(days=1))
    assert spark.read.parquet(target).count() == total

    # resume from watermark: rewrites only the last day, still no dupes
    runner.run_from_watermark(end, timedelta(days=1), default_start=start)
    assert spark.read.parquet(target).count() == total
    ev.unpersist()


# --- structured streaming ----------------------------------------------------


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    """availableNow file-stream through the windowed agg == batch result."""
    ev = load_table(spark, SF_DIR, "events")
    src_dir = str(tmp_path / "src")
    ev.write.parquet(src_dir)
    stream = spark.readStream.schema(spark.read.parquet(src_dir).schema).parquet(
        src_dir
    )
    agg = windowed_counts(stream, window="1 hour", keys=("event_type",))
    target = str(tmp_path / "out")
    q = start_dynamic_overwrite_sink(
        agg, target, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    got = spark.read.parquet(target).drop("batch_id")
    # Append-mode watermark semantics: windows still inside the lateness
    # horizon at end-of-stream stay in state — only FINALIZED windows
    # (w_end <= max_ts - lateness) are emitted.
    max_ts = ev.agg(F.max("ts")).first()[0]
    cutoff = max_ts - timedelta(minutes=10)
    expected = (
        windowed_counts(ev, window="1 hour", keys=("event_type",))
        .withColumn("ds", F.date_format("w_start", "yyyyMMdd"))
        .where(F.col("w_end") <= F.lit(cutoff))
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Replayed keys across micro-batches are dropped; state is bounded
    by the watermark (dropDuplicatesWithinWatermark)."""
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    base = datetime(2024, 3, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, v string"
    # file 1: e1, e2 — file 2 (a later micro-batch): e1 replayed + e3
    b1 = spark.createDataFrame(
        [(1, base, "a"), (2, base + timedelta(minutes=1), "b")], schema
    )
    b2 = spark.createDataFrame(
        [(1, base, "a-replay"), (3, base + timedelta(minutes=2), "c")], schema
    )
    b1.coalesce(1).write.parquet(str(src_dir / "f1"))
    b2.coalesce(1).write.parquet(str(src_dir / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir) + "/*/")
    )
    out = str(tmp_path / "out")
    q = (
        deduped_stream(stream, key_cols=("event_id",), lateness="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    ids = sorted(r["event_id"] for r in got.collect())
    assert ids == [1, 2, 3]  # e1 exactly once despite the replay
    assert got.where(F.col("v") == "a-replay").count() == 0  # first won


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join == its batch twin.

    The same time_bounded_join function builds both plans; in streaming
    mode it must plan a StreamingSymmetricHashJoin (stateful, range-
    bounded), and an availableNow run over the full fixture must emit
    exactly the batch join's rows.
    """
    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema
    s = spark.readStream.schema(schema).parquet(src)
    joined = time_bounded_join(
        s.where(F.col("event_type") == "click"),
        s.where(F.col("event_type") == "purchase"),
        window_minutes=10,
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("ssj")
    expected = time_bounded_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        window_minutes=10,
    )
    assert got.count() == expected.count() > 0
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_streaming_restart_is_idempotent(spark, tmp_path):
    """Restarting from the same checkpoint doesn't duplicate output."""
    ev = load_table(spark, SF_DIR, "events").limit(2000)
    src_dir = str(tmp_path / "src")
    ev.write.parquet(src_dir)
    stream = spark.readStream.schema(spark.read.parquet(src_dir).schema).parquet(
        src_dir
    )
    agg = windowed_counts(stream, window="1 hour")
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = start_dynamic_overwrite_sink(agg, target, ckpt, available_now=True)
    q.awaitTermination(120)
    n1 = spark.read.parquet(target).count()
    # restart with no new input: no new batches, no duplicated rows
    q2 = start_dynamic_overwrite_sink(agg, target, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(target).count() == n1


# --- http xml source ---------------------------------------------------------

_FAKE_ROWS = 7


def fake_fetch(url: str, xml_body: str, window_id: str) -> str:
    """Deterministic fake API: CSV keyed off the window id (executor-side)."""
    header = "waktu,appId_String,clientAddr,serverAddr,transactions,delay,throughput"
    rows = [
        f"{window_id},app{i},10.0.0.{i},10.1.0.{i},{i * 10}.0,{i}.5,{i * 100}.0"
        for i in range(_FAKE_ROWS)
    ]
    return "\n".join([header] + rows)


def test_build_query_xml_shape():
    xml = build_query_xml(
        ("waktu", "transactions"),
        "WKF:ALL",
        datetime(2024, 1, 1, 0, 0),
        datetime(2024, 1, 1, 0, 5),
    )
    assert "<column>transactions</column>" in xml
    assert "<startTime>2024-01-01 00:00:00</startTime>" in xml
    assert "<resolution>FIVE_MINUTE</resolution>" in xml


def test_xml_api_datasource_distributed_fetch(spark):
    """One partition per 5-min window; executors parse their own CSV."""
    register_xml_api(spark)
    df = (
        spark.read.format("xmlapi")
        .option("fetcher", "tests.test_io_streaming:fake_fetch")
        .option("starttime", "2024-01-01 00:00:00")
        .option("endtime", "2024-01-01 00:15:00")
        .option("windowminutes", "5")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 3 * _FAKE_ROWS
    row = df.where(
        (F.col("waktu") == "2024-01-01 00:05:00") & (F.col("appId_String") == "app2")
    ).first()
    assert row["transactions"] == 20.0 and row["delay"] == 2.5
    # explicit schema, not inferred
    assert dict(df.dtypes)["throughput"] == "double"


def ragged_fetch(url: str, xml_body: str, window_id: str) -> str:
    """Fake API with degenerate answers: the 00:05 window is empty, the
    00:10 window header-only, and the other windows leave some double
    cells empty."""
    header = "waktu,appId_String,clientAddr,serverAddr,transactions,delay,throughput"
    if window_id.endswith("00:05:00"):
        return ""
    if window_id.endswith("00:10:00"):
        return header + "\n"
    rows = [
        f"{window_id},app{i},10.0.0.{i},10.1.0.{i},"
        f"{'' if i % 2 else f'{i}.0'},{'' if i % 3 == 0 else '0.5'},{i * 100}.0"
        for i in range(4)
    ]
    return "\n".join([header] + rows)


def test_read_windows_equals_the_format_read(spark):
    """``read_windows`` gives the ``format("xmlapi")`` read's schema, one
    partition per window and the same rows, over a span that is not a
    multiple of the window, empty and header-only answers, and empty
    double cells read as null."""
    opts = {
        "fetcher": "tests.test_io_streaming:ragged_fetch",
        "starttime": "2024-01-01 00:00:00",
        "endtime": "2024-01-01 00:17:00",
        "windowminutes": "5",
    }
    register_xml_api(spark)
    want = spark.read.format("xmlapi").options(**opts).load()
    got = read_windows(spark, **opts)
    assert got.schema == want.schema
    assert got.rdd.getNumPartitions() == want.rdd.getNumPartitions() == 4
    assert got.count() == want.count() == 2 * 4
    assert got.exceptAll(want).count() == want.exceptAll(got).count() == 0
    assert {r["waktu"] for r in got.select("waktu").distinct().collect()} == {
        "2024-01-01 00:00:00",
        "2024-01-01 00:15:00",
    }
    assert got.where(F.col("transactions").isNull()).count() == 2 * 2
    assert got.where(F.col("delay").isNull()).count() == 2 * 2


# --- jdbc source -------------------------------------------------------------


def test_jdbc_pushdown_subquery():
    q = pushdown_subquery("history", "clock", 100, 200)
    assert q == (
        "(SELECT * FROM history WHERE clock >= 100 AND clock < 200"
        " ORDER BY clock DESC) AS final"
    )


def test_jdbc_window_options_parallel_stripes():
    src = JdbcWindowSource(
        url="jdbc:mysql://db:3306/zabbix",
        table="history",
        user="u",
        password="p",
        num_partitions=8,
    )
    lo = datetime(2024, 1, 1, 10, 0)
    hi = datetime(2024, 1, 1, 11, 0)
    opts = src.options_for(lo, hi)
    assert opts["partitionColumn"] == "clock"
    assert int(opts["upperBound"]) - int(opts["lowerBound"]) == 3600
    assert opts["numPartitions"] == "8"
    assert "clock >= " in opts["dbtable"] and "AS final" in opts["dbtable"]
    assert opts["driver"].startswith("com.mysql")


def test_batch_sink_siblings_and_replay(spark, tmp_path):
    """Batches sharing a ds partition must not clobber each other, and a
    replayed batch_id must replace only its own sub-partitions.

    Drives the foreachBatch closure directly with deterministic batches
    (end-to-end streaming leaves which-batch-emits-which-day to
    watermark timing): batch 1 = morning windows of day X, batch 2 =
    afternoon windows of the same day. A blanket per-ds overwrite kept
    only batch 2's rows; the (ds, batch_id) key keeps both, and
    re-running batch 2 (failure replay) changes nothing."""
    from etl_portofolio_spark.streaming.structured import make_batch_sink

    target = str(tmp_path / "out")
    sink = make_batch_sink(target)
    ev = load_table(spark, SF_DIR, "events")
    day = windowed_counts(ev, window="1 hour", keys=("event_type",)).where(
        F.date_format("w_start", "yyyyMMdd") == "20240105"
    )
    morning = day.where(F.hour("w_start") < 12)
    afternoon = day.where(F.hour("w_start") >= 12)
    assert morning.count() > 0 and afternoon.count() > 0

    sink(morning, 1)
    sink(afternoon, 2)
    got = spark.read.parquet(target).drop("batch_id", "ds")
    assert got.exceptAll(day).count() == 0
    assert day.exceptAll(got).count() == 0

    sink(afternoon, 2)  # failure replay of the last batch
    replayed = spark.read.parquet(target).drop("batch_id", "ds")
    assert replayed.count() == day.count()
    assert replayed.exceptAll(day).count() == 0


def test_jdbc_window_epoch_is_host_tz_independent():
    """Watermark resume must align with the ds partition boundary on ANY
    host timezone: ds=20240105 begins at epoch(2024-01-05T00:00+07:00),
    regardless of what TZ the driver process runs in."""
    import calendar
    import time

    src = JdbcWindowSource(
        url="jdbc:mysql://db:3306/zabbix", table="history", user="u", password="p"
    )
    wm_start = datetime(2024, 1, 5)  # strptime("20240105") — local wall-clock
    expected = calendar.timegm((2024, 1, 5, 0, 0, 0)) - 7 * 3600
    old_tz = os.environ.get("TZ")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Jakarta"):
            os.environ["TZ"] = tz
            time.tzset()
            opts = src.options_for(wm_start, wm_start + timedelta(hours=1))
            assert int(opts["lowerBound"]) == expected, tz
            assert int(opts["upperBound"]) == expected + 3600, tz
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


# --- catalog (metastore) table sink ------------------------------------------


@pytest.fixture()
def catalog_db(spark, tmp_path):
    """A throwaway database whose tables live under tmp_path."""
    name = f"tdb_{abs(hash(str(tmp_path))) % 10**8}"
    spark.sql(f"CREATE DATABASE {name} LOCATION '{tmp_path / 'db'}'")
    yield name
    spark.sql(f"DROP DATABASE {name} CASCADE")


def test_orc_roundtrip_preserves_schema_and_values(spark, tmp_path):
    """ORC sink/source parity with parquet: same schema, same rows."""
    ev = load_table(spark, SF_DIR, "events").limit(500)
    path = str(tmp_path / "orc")
    ev.write.format("orc").save(path)
    back = spark.read.format("orc").load(path)
    assert back.schema == ev.schema
    assert back.count() == 500
    assert back.exceptAll(ev).count() == 0


def test_xml_file_roundtrip_native_format(spark, tmp_path):
    """Spark 4 native XML file source round-trip (rowTag contract) —
    complements the HTTP XML-query DataSource (S2): the same payload
    shape as files on disk survives write→read with declared schema."""
    path = str(tmp_path / "xml")
    df = spark.createDataFrame(
        [(1, "host-a", 12.5), (2, "host-b", None)],
        "id long, host string, delay double",
    )
    df.write.format("xml").option("rowTag", "row").mode("overwrite").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema("id long, host string, delay double")
        .load(path)
    )
    got = sorted(back.collect(), key=lambda r: r["id"])
    assert [(r["id"], r["host"], r["delay"]) for r in got] == [
        (1, "host-a", 12.5),
        (2, "host-b", None),
    ]


def test_json_source_permissive_corrupt_records(spark, tmp_path):
    """JSON-lines read with PERMISSIVE mode: malformed rows land in
    _corrupt_record instead of failing the scan — corrupt blobs are
    data, not errors, at corpus scale."""
    p = tmp_path / "data.jsonl"
    p.write_text(
        '{"id": 1, "v": "ok"}\n'
        "this is not json\n"
        '{"id": 2, "v": "also ok"}\n'
        '{"id": "not a long", "v": "bad type"}\n'
    )
    df = (
        spark.read.schema("id long, v string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["id"] for r in good} == {1, 2}
    assert len(bad) == 2  # the non-JSON line and the type-mismatched row


def test_bucketed_tables_join_without_exchange(spark, catalog_db):
    """Two facts bucketed by the join key co-locate: the join plan has
    NO Exchange (the shuffle was paid at write time) and, with sortBy,
    no Sort either — while producing exactly the plain-join result."""
    from etl_portofolio_spark.sinks.writer import write_bucketed_table

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    write_bucketed_table(li, f"{catalog_db}.li_b", "l_orderkey", 8)
    write_bucketed_table(orders, f"{catalog_db}.ord_b", "o_orderkey", 8)

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.table(f"{catalog_db}.li_b")
        b = spark.table(f"{catalog_db}.ord_b")
        joined = a.join(b, a["l_orderkey"] == b["o_orderkey"]).select(
            "l_orderkey", "o_custkey", "l_quantity"
        )
        joined.write.format("noop").mode("overwrite").save()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        expected = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
            "l_orderkey", "o_custkey", "l_quantity"
        )
        assert joined.count() == expected.count()
        assert joined.exceptAll(expected).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_table_sink_show_partitions_watermark_idempotent(spark, tmp_path, catalog_db):
    """The reference's catalog surface end-to-end: saveAsTable create,
    SHOW PARTITIONS watermark, dynamic-overwrite re-run (no dupes),
    TRUNCATE PARTITION, REFRESH."""
    from etl_portofolio_spark.sinks.writer import (
        latest_table_partition,
        truncate_table_partition,
        write_partitioned_table,
    )

    tbl = f"{catalog_db}.events_ing"
    ev = _events_with_ds(spark).limit(500).persist()
    days = sorted(r["ds"] for r in ev.select("ds").distinct().collect())

    assert latest_table_partition(spark, tbl) is None
    write_partitioned_table(ev, tbl)
    total = spark.table(tbl).count()
    assert total == 500
    shown = [r[0] for r in spark.sql(f"SHOW PARTITIONS {tbl}").collect()]
    assert sorted(shown) == [f"ds={d}" for d in days]
    assert latest_table_partition(spark, tbl) == days[-1]

    # idempotent re-run of one day: dynamic overwrite, same totals
    day0 = ev.where(F.col("ds") == days[0])
    write_partitioned_table(day0, tbl)
    assert spark.table(tbl).count() == total

    # K4 truncate parity + append refill
    truncate_table_partition(spark, tbl, "ds", days[0])
    assert spark.table(tbl).count() == total - day0.count()
    write_partitioned_table(day0, tbl, mode="append")
    assert spark.table(tbl).count() == total
    ev.unpersist()


def test_table_incremental_runner_end_to_end(spark, tmp_path, catalog_db):
    """TableIncrementalRunner: windowed ingest == one-shot, watermark
    comes from SHOW PARTITIONS, reruns stay idempotent."""
    from etl_portofolio_spark.streaming.incremental import TableIncrementalRunner

    tbl = f"{catalog_db}.inc"
    ev = _events_with_ds(spark).persist()
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    start = datetime(lo.year, lo.month, lo.day)
    end = datetime(hi.year, hi.month, hi.day) + timedelta(days=1)

    def source(s: datetime, e: datetime):
        return ev.where((F.col("ts") >= F.lit(s)) & (F.col("ts") < F.lit(e)))

    runner = TableIncrementalRunner(spark, source, tbl)
    results = runner.run(start, end, timedelta(days=1))
    assert sum(r.rows for r in results) == ev.count()
    total = spark.table(tbl).count()
    assert total == ev.count()
    days = sorted(r["ds"] for r in ev.select("ds").distinct().collect())
    assert runner.watermark() == days[-1]

    # resume from the SHOW PARTITIONS watermark: only last day rewritten
    runner.run_from_watermark(end, timedelta(days=1), default_start=start)
    assert spark.table(tbl).count() == total
    ev.unpersist()


# --- jdbc execution path (embedded Derby ships with Spark) -------------------


def _seed_derby_history(spark, db_path: str, rows: list[tuple[int, int, float]]):
    """Create + populate a Derby `history` table via the driver JVM."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db_path};create=true")
    st = conn.createStatement()
    st.execute("CREATE TABLE history (itemid INT, clock BIGINT, value DOUBLE)")
    ps = conn.prepareStatement("INSERT INTO history VALUES (?, ?, ?)")
    for itemid, clock, value in rows:
        ps.setInt(1, itemid)
        ps.setLong(2, clock)
        ps.setDouble(3, value)
        ps.executeUpdate()
    ps.close()
    st.close()
    conn.close()


def _derby_source(db_path: str, num_partitions: int = 4) -> JdbcWindowSource:
    return JdbcWindowSource(
        url=f"jdbc:derby:{db_path}",
        table="history",
        user="",
        password="",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        num_partitions=num_partitions,
    )


def test_jdbc_read_window_executes_with_pushdown(spark, tmp_path):
    """S4 executed, not just options-tested: the pushdown subquery and
    partitioned stripes run against a real JDBC database (embedded
    Derby, bundled with Spark) and return exactly the window's rows."""
    base = calendar_epoch = __import__("calendar").timegm((2024, 1, 5, 0, 0, 0)) - 7 * 3600
    rows = [(1, base + i * 600, float(i)) for i in range(144)]  # 24h of 10-min points
    db = str(tmp_path / "derbydb")
    _seed_derby_history(spark, db, rows)

    src = _derby_source(db)
    lo = datetime(2024, 1, 5, 3, 0)   # ds-tz wall-clock, 1h window
    hi = datetime(2024, 1, 5, 4, 0)
    got = src.read_window(spark, lo, hi)
    assert got.rdd.getNumPartitions() == 4  # parallel stripes
    # Derby reports uppercase column names; Spark resolution is
    # case-insensitive, Python Row.__getitem__ is not — go through select.
    vals = sorted(r[0] for r in got.select(F.col("clock")).collect())
    expect = [c for (_, c, _) in rows if base + 3 * 3600 <= c < base + 4 * 3600]
    assert vals == expect


def test_jdbc_incremental_ingest_end_to_end(spark, tmp_path):
    """The full reference MySQL job shape against a live JDBC source:
    hour-windowed run_from_watermark -> decimal counter cast -> ds from
    clock+7h -> idempotent partitioned parquet, then resume is a no-op
    rewrite."""
    from etl_portofolio_spark.jobs.ingest_jdbc import build_runner

    base = __import__("calendar").timegm((2024, 1, 5, 0, 0, 0)) - 7 * 3600
    rows = [(1, base + i * 600, float(i)) for i in range(288)]  # 2 local days
    db = str(tmp_path / "derbydb2")
    _seed_derby_history(spark, db, rows)

    target = str(tmp_path / "out")
    runner = build_runner(spark, _derby_source(db), target)
    results = runner.run_from_watermark(
        end=datetime(2024, 1, 7),
        delta=timedelta(hours=6),
        default_start=datetime(2024, 1, 5),
    )
    assert sum(r.rows for r in results) == len(rows)
    got = spark.read.parquet(target)
    assert got.count() == len(rows)
    assert sorted(r["ds"] for r in got.select("ds").distinct().collect()) == [
        "20240105",
        "20240106",
    ]
    # resume: watermark = 20240106 -> its day rewritten, nothing duplicated
    runner.run_from_watermark(
        end=datetime(2024, 1, 7),
        delta=timedelta(hours=6),
        default_start=datetime(2024, 1, 5),
    )
    assert spark.read.parquet(target).count() == len(rows)


def _files_per_ds(target: str) -> dict[str, int]:
    return {
        d: len([f for f in os.listdir(os.path.join(target, d)) if f.endswith(".parquet")])
        for d in os.listdir(target)
        if d.startswith("ds=")
    }


def test_file_sizing_follows_aqe_advisory_size(spark, tmp_path):
    """The writer's REBALANCE hint lets AQE size files: a default write
    gives one file per ds however many input partitions feed it, and a
    ds larger than the advisory partition size splits across files."""
    ev = spark.range(0, 30000, numPartitions=16).select(
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        F.concat(F.lit("2024010"), (F.col("id") % 3 + 1).cast("string")).alias("ds"),
    )
    small = str(tmp_path / "small")
    got = write_partitioned(ev, small)
    days = {"20240101", "20240102", "20240103"}
    assert got["n_rows"] == 30000 == spark.read.parquet(small).count()
    assert got["partitions"] == days
    assert _files_per_ds(small) == {f"ds={d}": 1 for d in days}

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(64 * 1024))
    try:
        split = str(tmp_path / "split")
        write_partitioned(ev, split)
    finally:
        spark.conf.set(key, old)
    assert max(_files_per_ds(split).values()) > 1
    assert spark.read.parquet(split).count() == 30000


def test_compact_partition_reduces_files_preserves_rows(spark, tmp_path):
    from etl_portofolio_spark.sinks.writer import compact_partition

    path = str(tmp_path / "cp")
    # simulate many micro-batch appends: 8 tiny files in one partition
    for i in range(8):
        spark.createDataFrame(
            [(i * 10 + j, "20240101") for j in range(10)], "k long, ds string"
        ).coalesce(1).write.partitionBy("ds").mode("append").parquet(path)
    before = spark.read.parquet(path)
    n_before_files = len(
        [f for f in os.listdir(f"{path}/ds=20240101") if f.endswith(".parquet")]
    )
    assert n_before_files == 8
    before_rows = sorted(r["k"] for r in before.collect())

    n_after_files = compact_partition(spark, path, "ds", "20240101")
    assert n_after_files < n_before_files
    after_rows = sorted(r["k"] for r in spark.read.parquet(path).collect())
    assert after_rows == before_rows
    # idempotent: compacting a compacted partition is a no-op-ish rewrite
    assert compact_partition(spark, path, "ds", "20240101") == n_after_files


def test_retention_sweep_drops_only_old_partitions(spark, tmp_path):
    from etl_portofolio_spark.sinks.writer import retention_sweep, write_partitioned

    path = str(tmp_path / "rt")
    df = spark.createDataFrame(
        [(1, "20240101"), (2, "20240102"), (3, "20240103")], "k long, ds string"
    )
    write_partitioned(df, path, "ds")
    dropped = retention_sweep(spark, path, "ds", keep_from="20240102")
    assert dropped == ["20240101"]
    left = sorted(r["ds"] for r in spark.read.parquet(path).collect())
    assert left == ["20240102", "20240103"]
    # second sweep: nothing older remains
    assert retention_sweep(spark, path, "ds", keep_from="20240102") == []


def test_analyze_table_feeds_cbo_stats(spark, catalog_db, tmp_path):
    from etl_portofolio_spark.sinks.writer import analyze_table, write_partitioned_table

    table = f"{catalog_db}.stats_t"
    df = spark.createDataFrame(
        [(i, f"2024010{1 + i % 2}") for i in range(40)], "k long, ds string"
    )
    write_partitioned_table(df, table, "ds")
    analyze_table(spark, table, columns=("k",))
    detail = {
        (r[0] or "").strip(): (r[1] or "")
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }
    stats = detail.get("Statistics", "")
    assert "40 rows" in stats, detail


def test_compact_partition_sort_cols_cluster_files(spark, tmp_path):
    """Compaction with sort_cols yields files whose key ranges are
    DISJOINT — the precondition for parquet min/max file skipping."""
    from etl_portofolio_spark.sinks.writer import compact_partition

    path = str(tmp_path / "cl")
    # interleaved keys across many small appends
    for i in range(6):
        spark.createDataFrame(
            [((j * 6 + i) % 60, "20240101") for j in range(10)],
            "k long, ds string",
        ).coalesce(1).write.partitionBy("ds").mode("append").parquet(path)
    compact_partition(
        spark, path, "ds", "20240101", target_file_bytes=400, sort_cols=("k",)
    )
    per_file = (
        spark.read.parquet(path)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    assert len(per_file) > 1  # the tiny size target forces a split
    spans = sorted((r["lo"], r["hi"]) for r in per_file)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans  # overlapping ranges = no skipping


def test_jsonl_quarantine_split(spark, tmp_path):
    """Broken lines quarantine as data (never kill the read); valid
    lines project to the declared schema with drift tolerated."""
    from etl_portofolio_spark.sources.jsonl import read_jsonl_with_quarantine

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        "\n".join(
            [
                '{"doc_id": 1, "text": "hello world", "lang": "en"}',
                '{"doc_id": 2, "text": "bonjour", "lang": "fr", "extra": 42}',  # drift: extra field
                '{"doc_id": 3, "text": "missing lang"}',                        # drift: missing field
                '{"doc_id": 4, "text": "broken',                                # corrupt: unterminated
                "not json at all",                                              # corrupt: garbage
                '{"doc_id": 6, "text": "ok", "lang": "de"}',
            ]
        )
    )
    good, bad = read_jsonl_with_quarantine(
        spark, str(p), "doc_id long, text string, lang string"
    )
    rows = {r["doc_id"]: r for r in good.collect()}
    assert set(rows) == {1, 2, 3, 6}
    assert rows[2]["lang"] == "fr" and "extra" not in good.columns
    assert rows[3]["lang"] is None
    quarantined = [r["raw_line"] for r in bad.collect()]
    assert len(quarantined) == 2
    assert "not json at all" in quarantined


def test_range_clustered_write_has_disjoint_file_envelopes(spark, tmp_path):
    """Every output file must own a disjoint [min,max] range of the
    cluster key — the property that lets row-group stats prune a point
    predicate to ONE file."""
    from etl_portofolio_spark.sinks.writer import write_range_clustered

    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    path = str(tmp_path / "clustered")
    write_range_clustered(ev, path, "event_id", n_files=6)

    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(stats) > 1
    for a, b in zip(stats, stats[1:]):
        assert a["hi"] < b["lo"], f"overlapping envelopes {a} {b}"
    # nothing lost in the re-layout
    assert spark.read.parquet(path).count() == ev.count()


def test_enrich_stream_static_matches_batch_and_keeps_unmatched(spark, tmp_path):
    """Stream-static broadcast enrichment: no state store, static side
    re-read per micro-batch, unmatched events kept with nulls (left
    join) — output equals the batch twin row-for-row."""
    from etl_portofolio_spark.streaming.structured import enrich_stream_static

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue")],
        "event_type string, category string",
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    ev.coalesce(2).write.parquet(str(src_dir / "f0"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*"))
    )
    q = (
        enrich_stream_static(stream, dim, "event_type")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(str(tmp_path / "out"))
    want = ev.join(F.broadcast(dim), "event_type", "left")
    assert got.count() == ev.count()  # left join: nothing vanishes
    assert got.where(F.col("category").isNull()).count() == ev.where(
        ~F.col("event_type").isin("click", "view", "purchase")
    ).count()
    cols = ["event_id", "event_type", "category"]
    assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
    assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0


def test_write_sorted_sequences_key_colocated_and_ordered(spark, tmp_path):
    """Sequence export: every key in exactly one file, rows ordered
    (key, ts, id) inside each file, nothing lost — the layout a
    sequence dataloader reads sequentially with no training-time
    shuffle."""
    from etl_portofolio_spark.sinks.writer import write_sorted_sequences

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    path = str(tmp_path / "seq")
    write_sorted_sequences(ev, path, "user_id", ("ts", "event_id"), n_buckets=8)

    back = spark.read.parquet(path).select(
        F.input_file_name().alias("f"), "user_id", "ts", "event_id"
    )
    assert back.count() == ev.count()
    # key co-location: no user spans two files
    assert (
        back.groupBy("user_id")
        .agg(F.countDistinct("f").alias("nf"))
        .where(F.col("nf") > 1)
        .count()
        == 0
    )
    # in-file ordering: each file is sorted by (user_id, ts, event_id)
    pdf = back.toPandas()
    for _, g in pdf.groupby("f", sort=False):
        rows = list(zip(g["user_id"], g["ts"], g["event_id"]))
        assert rows == sorted(rows)


def test_enrich_stream_static_dim_is_pinned_and_fails_loudly(spark, tmp_path):
    """Dimension freshness contract of the stream-static join: a plain
    parquet static side is PINNED at query start; overwriting it
    mid-query (from the foreachBatch callback, exactly between
    planning cycles) fails the query with FILE_NOT_EXIST — never
    stale or torn rows. Batch 0, planned before the swap, must have
    served the original dimension."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from etl_portofolio_spark.streaming.structured import enrich_stream_static

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [("click", "v1")], "event_type string, category string"
    ).write.mode("overwrite").parquet(dim_path)

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    for eid, f in ((1, "f0"), (2, "f1")):
        spark.createDataFrame(
            [(eid, "click")], "event_id long, event_type string"
        ).coalesce(1).write.parquet(str(src_dir / f))

    stream = (
        spark.readStream.schema("event_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*"))
    )
    enriched = enrich_stream_static(stream, spark.read.parquet(dim_path), "event_type")

    out: list[tuple[int, int, str]] = []

    def sink(batch, batch_id):
        for r in batch.collect():
            out.append((batch_id, r["event_id"], r["category"]))
        # swap the dimension BETWEEN micro-batches
        batch.sparkSession.createDataFrame(
            [("click", "v2")], "event_type string, category string"
        ).write.mode("overwrite").parquet(dim_path)
        batch.sparkSession.catalog.refreshByPath(dim_path)

    q = (
        enriched.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="FILE_NOT_EXIST"):
        q.awaitTermination(180)

    # batch 0 served the pre-swap dimension; nothing stale ever emitted
    assert (0, 1, "v1") in out
    assert all(cat == "v1" for _, _, cat in out)


def test_stream_stream_left_outer_join_emits_nulls(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER join: matched rows equal
    the inner join exactly, and unmatched purchases emit once with
    NULL click columns after the click watermark passes them.

    Null emission is watermark-gated, so purchases in the final
    lateness tail may legitimately be withheld on a finite availableNow
    run — the assertion brackets the null count between the batch
    anti-join restricted to a conservative cutoff and the full batch
    anti-join, instead of demanding tail equality.
    """
    from etl_portofolio_spark.streaming.structured import time_bounded_join_left

    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema
    s = spark.readStream.schema(schema).parquet(src)
    joined = time_bounded_join_left(
        s.where(F.col("event_type") == "purchase"),
        s.where(F.col("event_type") == "click"),
        window_minutes=10,
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssloj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("ssloj")

    batch = time_bounded_join_left(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "click"),
        window_minutes=10,
    )
    # matched rows: exactly the batch inner/matched set
    got_m = got.where(F.col("click_id").isNotNull())
    exp_m = batch.where(F.col("click_id").isNotNull())
    assert got_m.count() == exp_m.count() > 0
    assert got_m.exceptAll(exp_m).count() == 0

    # null rows: every one is a true batch non-match, and all
    # non-matches older than (lateness + window) before the max event
    # time must have been emitted
    got_n = got.where(F.col("click_id").isNull())
    exp_n = batch.where(F.col("click_id").isNull())
    assert got_n.exceptAll(exp_n).count() == 0
    # the global watermark is the MIN across both sides' watermarks, so
    # null emission is gated by the CLICK stream's max event time
    max_click_ts = (
        ev.where(F.col("event_type") == "click").agg(F.max("ts")).first()[0]
    )
    import datetime

    cutoff = max_click_ts - datetime.timedelta(minutes=45)
    must_emit = exp_n.where(F.col("purchase_ts") <= F.lit(cutoff)).count()
    n_nulls = got_n.count()
    assert must_emit <= n_nulls <= exp_n.count()
    assert n_nulls > 0


def test_xml_api_stream_reader_micro_batches(spark, tmp_path):
    """The streaming face of the xmlapi source: checkpointable window
    offsets — a drain, an idempotent resume, and an incremental
    catch-up that reads only the newly-available window."""
    register_xml_api(spark)
    opts = {
        "fetcher": "tests.test_io_streaming:fake_fetch",
        "starttime": "2024-01-01 00:00:00",
        "endtime": "2024-01-01 00:15:00",
        "windowminutes": "5",
    }
    # availableNow captures latestOffset once per run, and the reader
    # advances maxwindowsperbatch=1 window per capture — so each run is
    # one micro-batch, and restarting from the same checkpoint RESUMES
    # at the committed offset: counts must step 7 -> 14 -> 21.
    out = str(tmp_path / "out")

    def run(o):
        stream = spark.readStream.format("xmlapi").options(**o).load()
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).count()

    # first run drains all 3 available windows
    assert run(opts) == 3 * _FAKE_ROWS
    # resuming the checkpoint with no new data is a no-op
    assert run(opts) == 3 * _FAKE_ROWS
    # a new window became available: ONLY the delta is read
    opts4 = dict(opts, endtime="2024-01-01 00:20:00")
    assert run(opts4) == 4 * _FAKE_ROWS

    got = spark.read.parquet(out)
    batch = spark.read.format("xmlapi").options(**opts4).load()
    assert got.count() == batch.count() == 4 * _FAKE_ROWS
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across incremental batches: a later batch adds
    a column; mergeSchema reconciles and the old rows surface NULLs —
    the read-side contract an append-forever ingest layout relies on."""
    path = str(tmp_path / "evo")
    spark.createDataFrame([(1, "a")], "k long, a string").write.parquet(
        path + "/ds=20240101"
    )
    spark.createDataFrame(
        [(2, "b", 1.5)], "k long, a string, extra double"
    ).write.parquet(path + "/ds=20240102")
    got = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", path)
        .parquet(path + "/ds=*")
    )
    assert {f.name for f in got.schema.fields} == {"k", "a", "extra", "ds"}
    rows = {r.k: r for r in got.collect()}
    assert rows[1].extra is None and rows[2].extra == 1.5


def test_orc_partitioned_write_roundtrip_and_pushdown(spark, tmp_path):
    """The partitioned sink on ORC: same dynamic-overwrite idempotency
    as parquet, and predicate pushdown reaches the ORC scan."""
    from etl_portofolio_spark.sinks.writer import write_partitioned

    path = str(tmp_path / "orc_tbl")
    df = spark.createDataFrame(
        [(i, f"2024010{1 + i % 2}") for i in range(20)], "k long, ds string"
    )
    write_partitioned(df, path, "ds", data_format="orc")
    back = spark.read.orc(path)
    assert back.count() == 20
    assert sorted(r["ds"] for r in back.select("ds").distinct().collect()) == [
        "20240101",
        "20240102",
    ]
    # dynamic overwrite: rewriting ONE partition leaves the other intact
    write_partitioned(
        spark.createDataFrame([(99, "20240101")], "k long, ds string"),
        path,
        "ds",
        data_format="orc",
    )
    back = spark.read.orc(path)
    assert back.where(F.col("ds") == "20240101").count() == 1
    assert back.where(F.col("ds") == "20240102").count() == 10
    # pushdown reaches the ORC scan node
    plan = back.where(F.col("k") > 50)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,50)" in plan


def test_write_partitioned_observes_metrics_during_write(spark, tmp_path):
    """Audit metrics come out of the write pass itself and match an
    independent aggregation; the write is a normal partitioned write."""
    from etl_portofolio_spark.sinks.writer import default_write_metrics

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", F.date_format("ts", "yyyyMMdd").alias("ds")
    )
    path = str(tmp_path / "observed")
    got = write_partitioned(
        ev, path, "ds", metrics=default_write_metrics("user_id", "ts")
    )
    expected = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("n_null_keys"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    ).first()
    assert got["n_rows"] == expected["n_rows"]
    assert got["n_null_keys"] == expected["n_null_keys"] == 0
    assert got["min_ts"] == expected["min_ts"]
    assert got["max_ts"] == expected["max_ts"]
    # and the data actually landed, partitioned
    back = spark.read.parquet(path)
    assert back.count() == got["n_rows"]
    assert "ds" in back.columns


@pytest.mark.parametrize("empty", ["data", "plan"])
def test_write_partitioned_empty_frame_writes_nothing(spark, tmp_path, empty):
    """An empty frame reports n_rows == 0 and writes no partition, both
    when the data is empty and when the optimizer proves the plan empty
    (which drops the observation node)."""
    from etl_portofolio_spark.sinks.writer import default_write_metrics

    ev = _events_with_ds(spark)
    cond = F.col("event_id") < 0 if empty == "data" else F.lit(False)
    path = str(tmp_path / "empty")
    got = write_partitioned(
        ev.where(cond), path, metrics=default_write_metrics("user_id", "ts")
    )
    assert got["n_rows"] == 0
    assert got["partitions"] == set()
    assert got["min_ts"] is None
    assert not [d for d in os.listdir(path) if d.startswith("ds=")]


def test_export_jsonl_shards_bounded_and_ordered(spark, tmp_path):
    """Shards respect the row bound; ordered export gives disjoint,
    sorted doc_id ranges per shard; every line is valid JSON."""
    import gzip
    import glob
    import json

    from etl_portofolio_spark.sinks.writer import export_jsonl_shards

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang"
    )
    path = str(tmp_path / "shards")
    n = export_jsonl_shards(docs, path, rows_per_shard=100, order_col="doc_id")
    assert n >= docs.count() // 100
    spans = []
    total = 0
    for f in sorted(glob.glob(path + "/part-*")):
        with gzip.open(f, "rt") as fh:
            ids = [json.loads(line)["doc_id"] for line in fh]
        assert 0 < len(ids) <= 100
        assert ids == sorted(ids)  # ordered inside the shard
        spans.append((min(ids), max(ids)))
        total += len(ids)
    assert total == docs.count()
    # files sort into disjoint ranges (range repartition + per-file split)
    spans.sort()
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2
    # round-trip: Spark reads the export back identically
    back = spark.read.json(path)
    assert back.count() == docs.count()
